package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K-minimum-values (KMV) distinct sketches (Bar-Yossef et al. 2002,
  * "Counting distinct elements in a data stream"; Beyer et al. 2007 for
  * the unbiased (k-1)/h_k estimator and multi-set operations).
  *
  * The one thing KMV adds over the HLL family (`a9_hll_merge`) is SET
  * ALGEBRA: because the sketch is the k smallest distinct hash values —
  * an actual uniform sample of the hashed set — two sketches intersect
  * and union by plain set operations, giving Jaccard / intersection-size
  * estimates that HLL registers cannot express. That is the per-shard
  * "how much does crawl A overlap crawl B" question a corpus pipeline
  * asks before it pays for a full cross-shard dedup pass.
  *
  * Cross-engine exactness: the hash is [[Sampling.rowHash]]'s pure
  * integer multiplicative hash (same twin in [[KmvSql]]), the sketch is
  * a rank filter over distinct hash values, and the only floating step
  * is the final estimator division, rounded to 6 places in both engines
  * — so the whole sketch, not just its accuracy, is oracle-checkable.
  *
  * Scale shape: the distinct pass is one hash-shuffle whose per-group
  * cardinality is BOUNDED BY THE HASH MODULUS (~1e6 rows/group max, a
  * few MB) no matter how many raw rows feed it, so the per-group rank
  * sort behind the k-min filter can never see more than M rows. At 100
  * TB the raw scan dominates; everything after the distinct is bounded.
  */
object Kmv {

  /** Distinct hash values per group: the relation both sketch faces
    * share. `(group, h)`, one row per distinct hash per group. */
  private def distinctHashes(rows: DataFrame, groupCol: String,
      keyCol: String): DataFrame =
    rows.select(col(groupCol).as("grp"),
        Sampling.rowHash(col(keyCol)).as("h"))
      .distinct()

  /** The estimator half, shared with the streaming face
    * ([[graft.streaming.StreamingQueries]]'s st16, which feeds it the
    * DRAINED distinct-hash state): `(grp, h)` distinct rows in, per-group
    * `(grp, n_h, kmv_est)` out — `kmv_est = (k-1)·M / h_k` when the
    * group fills the sketch; below k the sketch IS the exact set and the
    * estimate equals `n_h`. */
  private[graft] def sketchFinish(uh: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k >= 2: $k")
    val ranked = uh.withColumn("r", row_number().over(
      Window.partitionBy("grp").orderBy("h")))
    ranked.groupBy("grp").agg(
        count(lit(1)).as("n_h"),
        max(when(col("r") === k, col("h"))).as("h_k"))
      .select(col("grp"), col("n_h"),
        when(col("n_h") >= k,
            round(lit((k - 1).toDouble * Sampling.hashMod) / col("h_k"), 6))
          .otherwise(col("n_h").cast("double")).as("kmv_est"))
  }

  /** Per-group KMV distinct estimate, k smallest of the hashed key set.
    * `(grp, n_h, kmv_est, exact_keys)` — the sketch plus the exact
    * distinct-key count the estimate should bracket. */
  def distinctEstimate(rows: DataFrame, groupCol: String, keyCol: String,
      k: Int = 64): DataFrame = {
    val sketch = sketchFinish(distinctHashes(rows, groupCol, keyCol), k)
    val exact = rows.groupBy(col(groupCol).as("grp"))
      .agg(countDistinct(col(keyCol)).as("exact_keys"))
    sketch.join(exact, "grp")
      .select(col("grp").as(groupCol), col("n_h"), col("kmv_est"),
        col("exact_keys"))
      .orderBy(groupCol)
  }

  /** Pairwise Jaccard / overlap estimates from MERGED KMV sketches, for
    * every unordered group pair. The merged sketch of (A, B) is the k
    * smallest distinct hashes of A ∪ B; within it, the fraction also
    * present in both sides estimates J(A,B) (Beyer et al. 2007 §4). The
    * exact Jaccard OVER THE HASHED SETS rides along, so the oracle pins
    * both the sketch arithmetic and what it approximates.
    *
    * `(grp_a, grp_b, n_union, k_cap, jacc_est, jacc_exact)` — `k_cap`
    * in-both rows among the merged sketch's `k_eff = min(k, n_union)`.
    *
    * Scale shape: the pair relation is group-count² rows — broadcast —
    * and the flag aggregation keys on (pair, h), again modulus-bounded
    * per pair. No corpus-sized side ever shuffles twice. */
  def jaccardEstimate(rows: DataFrame, groupCol: String, keyCol: String,
      k: Int = 64): DataFrame = {
    require(k >= 2, s"k >= 2: $k")
    val uh = distinctHashes(rows, groupCol, keyCol)
    val groups = uh.select(col("grp")).distinct()
    val pairs = groups.select(col("grp").as("grp_a"))
      .join(groups.select(col("grp").as("grp_b")),
        col("grp_a") < col("grp_b"))
    // tiny pair table broadcast against the hash relation (non-equi IN
    // join -> nested loop with the BROADCAST side being the pairs)
    val flagged = uh.join(broadcast(pairs),
        col("grp") === col("grp_a") || col("grp") === col("grp_b"))
      .groupBy("grp_a", "grp_b", "h").agg(
        max(when(col("grp") === col("grp_a"), 1).otherwise(0)).as("in_a"),
        max(when(col("grp") === col("grp_b"), 1).otherwise(0)).as("in_b"))
    val ranked = flagged.withColumn("r", row_number().over(
      Window.partitionBy("grp_a", "grp_b").orderBy("h")))
    ranked.groupBy("grp_a", "grp_b").agg(
        count(lit(1)).as("n_union"),
        sum(when(col("r") <= k && col("in_a") === 1 && col("in_b") === 1,
          1L).otherwise(0L)).as("k_cap"),
        least(count(lit(1)), lit(k.toLong)).as("k_eff"),
        sum(col("in_a") * col("in_b")).as("n_both"))
      .select(col("grp_a"), col("grp_b"), col("n_union"), col("k_cap"),
        round(col("k_cap").cast("double") / col("k_eff"), 6)
          .as("jacc_est"),
        round(col("n_both").cast("double") / col("n_union"), 6)
          .as("jacc_exact"))
      .orderBy("grp_a", "grp_b")
  }
}

/** DuckDB twins of [[Kmv]], same integer hash, same rank rule, same
  * rounded final division. */
object KmvSql {

  private def hashes(table: String, groupCol: String, keyCol: String) =
    s"""SELECT DISTINCT $groupCol AS grp,
       |       ${Sampling.rowHashSql(keyCol)} AS h FROM $table""".stripMargin

  private def sketchCtes(table: String, groupCol: String, keyCol: String,
      k: Int) =
    s"""uh AS (${hashes(table, groupCol, keyCol)}),
       |r AS (SELECT grp, h,
       |             row_number() OVER (PARTITION BY grp ORDER BY h) AS r
       |      FROM uh),
       |sk AS (SELECT grp, count(*) AS n_h,
       |              max(CASE WHEN r = $k THEN h END) AS h_k
       |       FROM r GROUP BY grp)""".stripMargin

  private def estCol(k: Int) =
    s"""CASE WHEN n_h >= $k
       |            THEN round(${(k - 1).toDouble * Sampling.hashMod} / h_k, 6)
       |            ELSE CAST(n_h AS DOUBLE) END AS kmv_est""".stripMargin

  def distinctEstimate(table: String, groupCol: String, keyCol: String,
      k: Int = 64): String =
    s"""WITH ${sketchCtes(table, groupCol, keyCol, k)},
       |ex AS (SELECT $groupCol AS grp,
       |              count(DISTINCT $keyCol) AS exact_keys
       |       FROM $table GROUP BY 1)
       |SELECT sk.grp AS $groupCol, n_h,
       |       ${estCol(k)},
       |       exact_keys
       |FROM sk JOIN ex ON sk.grp = ex.grp
       |ORDER BY $groupCol""".stripMargin

  /** Sketch-only twin (no exact column) — the st16 streaming face's
    * oracle: the drained state is the sketch, the exact count is the
    * unbounded-state half the stream deliberately does not keep. */
  def distinctSketch(table: String, groupCol: String, keyCol: String,
      k: Int = 64): String =
    s"""WITH ${sketchCtes(table, groupCol, keyCol, k)}
       |SELECT grp AS $groupCol, n_h,
       |       ${estCol(k)}
       |FROM sk
       |ORDER BY $groupCol""".stripMargin

  def jaccardEstimate(table: String, groupCol: String, keyCol: String,
      k: Int = 64): String =
    s"""WITH uh AS (${hashes(table, groupCol, keyCol)}),
       |g AS (SELECT DISTINCT grp FROM uh),
       |pairs AS (SELECT a.grp AS grp_a, b.grp AS grp_b
       |          FROM g a JOIN g b ON a.grp < b.grp),
       |fl AS (SELECT p.grp_a, p.grp_b, u.h,
       |              max(CASE WHEN u.grp = p.grp_a THEN 1 ELSE 0 END) AS in_a,
       |              max(CASE WHEN u.grp = p.grp_b THEN 1 ELSE 0 END) AS in_b
       |       FROM pairs p
       |       JOIN uh u ON u.grp = p.grp_a OR u.grp = p.grp_b
       |       GROUP BY 1, 2, 3),
       |r AS (SELECT *, row_number() OVER (PARTITION BY grp_a, grp_b
       |                                   ORDER BY h) AS r
       |      FROM fl)
       |SELECT grp_a, grp_b, count(*) AS n_union,
       |       CAST(sum(CASE WHEN r <= $k AND in_a = 1 AND in_b = 1
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS k_cap,
       |       round(sum(CASE WHEN r <= $k AND in_a = 1 AND in_b = 1
       |                      THEN 1 ELSE 0 END) * 1.0
       |             / least(count(*), $k), 6) AS jacc_est,
       |       round(sum(in_a * in_b) * 1.0 / count(*), 6) AS jacc_exact
       |FROM r GROUP BY grp_a, grp_b
       |ORDER BY grp_a, grp_b""".stripMargin
}
