package graft.lanes

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{BloomPipeline, Kmv, KmvSql, Ratings, Sampling, SamplingSql, Tables}

/** Scans, projections, filters, splits and aggregations over the TPC-H and
  * events tables (SURVEY §2.1-2.2, §2.4). */
object ScanAggLanes extends LaneFamily("scan_agg") {
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

  val lanes: Seq[Lane] = Seq(
    // --- S/P: scans, projections, filters, limits, splits (SURVEY §2.1-2.2)
    Lane("p1_parse_project", Some(s"SELECT * FROM ($li) ORDER BY movieId"))((s, dir) =>
      Ratings.fromLineitem(s, dir).orderBy("movieId")),
    Lane("p1_events_project", Some(s"SELECT * FROM ($ev) ORDER BY movieId"))((s, dir) =>
      Ratings.fromEvents(s, dir).orderBy("movieId")),
    Lane("p5_filter", Some(
        s"SELECT * FROM ($li) WHERE rating BETWEEN 3 AND 8 ORDER BY movieId"))((s, dir) =>
      Ratings.fromLineitem(s, dir)
        .where(col("rating").between(3, 8)).orderBy("movieId")),
    Lane("p7_limit", Some(s"SELECT * FROM ($li) ORDER BY movieId LIMIT 10"))((s, dir) =>
      Ratings.fromLineitem(s, dir).orderBy("movieId").limit(10)),
    Lane("p8_split_train", Some(s"SELECT * FROM ($train) ORDER BY movieId"))((s, dir) =>
      Ratings.trainFromLineitem(s, dir).orderBy("movieId")),
    Lane("p8_split_test", Some(s"SELECT * FROM ($test) ORDER BY movieId"))((s, dir) =>
      Ratings.testFromLineitem(s, dir).orderBy("movieId")),

    // --- A: aggregations (SURVEY §2.4)
    Lane("a1_linecount", Some(
        s"SELECT rating, count(*) AS n FROM ($li) GROUP BY rating ORDER BY rating"))((s, dir) =>
      BloomPipeline.linecount(Ratings.fromLineitem(s, dir)).orderBy("rating")),
    Lane("a4_group_stats", Some(
        """SELECT event_type, count(*) AS total, round(sum(value), 2) AS sum_value,
          |       min(value) AS min_value, max(value) AS max_value
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))((s, dir) =>
      Tables(s, dir, "events").groupBy("event_type").agg(
        count("*").as("total"),
        round(sum("value"), 2).as("sum_value"),
        min("value").as("min_value"),
        max("value").as("max_value")).orderBy("event_type")),

    Lane("a6_percentiles", Some(
        """SELECT l_returnflag,
          |       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
          |       round(quantile_cont(l_quantity, 0.9), 6) AS p90,
          |       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))((s, dir) =>
      // exact percentiles (SQL `percentile`, not the approx sketch) so the
      // oracle matches bit-for-bit; the approx path is a7
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99_price"))
        .orderBy("l_returnflag")),
    Lane("a7_approx_distinct", Some(
        """SELECT count(DISTINCT l_partkey) AS exact_parts,
          |       TRUE AS approx_ok FROM lineitem""".stripMargin))((s, dir) => {
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

    // CMS estimate must bracket the exact count
    Lane("a8_cms_topk", Some(
        """SELECT l_suppkey, count(*) AS n, TRUE AS cms_ok FROM lineitem
          |GROUP BY l_suppkey ORDER BY n DESC, l_suppkey LIMIT 10""".stripMargin))((s, dir) => {
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
    // per-group sketches union to the global distinct
    Lane("a9_hll_merge", Some(
        """SELECT count(DISTINCT doc_id) AS exact_docs,
          |       TRUE AS merge_ok FROM documents""".stripMargin))((s, dir) => {
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

    // the KMV sketch is deterministic integer arithmetic end to end:
    // the oracle checks the sketch itself, not just an accuracy band
    Lane("a13_kmv_distinct", Some(
        KmvSql.distinctEstimate("events", "event_type", "user_id")))((s, dir) =>
      // KMV distinct sketch (exact-arithmetic twin in KmvSql): unlike
      // a7/a9's HLL lane, the k-min-values sketch itself is
      // oracle-checkable — hash, rank filter and estimator are all
      // deterministic integer arithmetic until one rounded division.
      Kmv.distinctEstimate(Tables(s, dir, "events"), "event_type",
        "user_id")),
    Lane("a14_kmv_jaccard", Some(
        KmvSql.jaccardEstimate("events", "event_type", "user_id")))((s, dir) =>
      // What KMV buys over HLL: sketch SET ALGEBRA. Merged k-min
      // sketches estimate pairwise Jaccard/overlap between the groups'
      // key sets — the cross-shard overlap triage a corpus runs before
      // paying for full dedup; the exact hashed-set Jaccard rides along.
      Kmv.jaccardEstimate(Tables(s, dir, "events"), "event_type",
        "user_id")),

    // identical integer bin arithmetic
    Lane("a11_histogram", Some(
        """SELECT CAST(floor((l_extendedprice - 900.0) / 5000.0) AS BIGINT)
          |         AS bin, count(*) AS n
          |FROM lineitem GROUP BY bin ORDER BY bin""".stripMargin))((s, dir) =>
      // Fixed-width histogram by integer bin arithmetic — the profiling
      // pass that sizes skew before a pipeline runs. floor((x-lo)/width)
      // is exact in both engines (no width_bucket dialect differences);
      // one partial/final aggregate over ~20 bins.
      Tables(s, dir, "lineitem")
        .select((floor((col("l_extendedprice") - 900.0) / 5000.0))
          .cast("long").as("bin"))
        .groupBy("bin").agg(count("*").as("n"))
        .orderBy("bin")),
    Lane("a15_equidepth_hist", None)((s, dir) => {
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
    // a15_equidepth_hist ships rows-only (sketch boundaries are
    // engine-specific); a15_depth_verify is its exact-valued gate
    // sketch buckets land inside the rank envelope
    Lane("a15_depth_verify", Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_total,
          |       CAST(20 AS BIGINT) AS n_buckets,
          |       TRUE AS depth_ok FROM lineitem""".stripMargin))((s, dir) => {
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
    // identical hash sample + inverse-rate scaling
    Lane("a16_join_size_est", Some(
        SamplingSql.joinSizeEstimate("events", "user_id")))((s, dir) =>
      // pre-flight self-join size estimation from a deterministic
      // key-domain sample — scale posture on Sampling.joinSizeEstimate
      Sampling.joinSizeEstimate(Tables(s, dir, "events"), col("user_id"))),
    // same rules, same thresholds, same verdicts
    Lane("a17_expectations", Some(
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
          |ORDER BY rule""".stripMargin))((s, dir) => {
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
    // the one-row corpus health profile
    Lane("a12_profile", Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |         AS null_text,
          |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
          |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
          |       CAST(sum(n_chars) AS BIGINT) AS total_chars
          |FROM documents""".stripMargin))((s, dir) =>
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
    // GK sketch lands inside its rank envelope
    Lane("a10_approx_quantile", Some(
        """SELECT round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_exact,
          |       TRUE AS approx_ok FROM lineitem""".stripMargin))((s, dir) => {
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
    // runtime-pruned fact join == plain filtered join
    Lane("x3_dpp", Some(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
          |WHERE length(event_type) <= 5
          |GROUP BY event_type ORDER BY event_type""".stripMargin))((s, dir) => {
      // dynamic partition pruning: the fact table is partitioned on the
      // join key; the dim side's non-foldable filter can't prune statically,
      // so the optimizer plants the dim's build result as a runtime
      // partition filter on the fact scan (dynamicpruningexpression in
      // PartitionFilters — locked in PlanAuditSpec). At 100 TB this is the
      // difference between scanning 3/5 partitions and all of them.
      val path = Fixtures.eventsByType(s, dir)
      val ev = Tables(s, dir, "events")
      val dim = ev.select("event_type").distinct()
        .where(length(col("event_type")) <= 5)
      s.read.parquet(path).join(broadcast(dim), "event_type")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    })
  )
}
