package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact global ranking WITHOUT a single-partition window — the 100 TB
  * variant of `row_number()/ntile() OVER (ORDER BY ...)` (r8 verdict ask
  * #2: the layout/curriculum lane registered global-window plans whose
  * scale-safe form existed only as comments).
  *
  * A global window funnels every row through ONE task (`WindowExec` over
  * `Exchange SinglePartition`). The equivalent distributed construction:
  *
  *  1. `repartitionByRange(p, order)` — range-partition on the SAME total
  *     order (partition i's keys all precede partition i+1's);
  *  2. `sortWithinPartitions(order)` — each partition sorts locally;
  *  3. `monotonically_increasing_id()` — documented layout `pid << 33 |
  *     local_row_number`, so each row carries its partition and its
  *     0-based position within the partition's sort;
  *  4. one bounded job collects the p per-partition COUNTS to the driver
  *     (p longs — the same bounded-artifact class as the bloom geometry
  *     scalars), prefix-sums them into offsets;
  *  5. a broadcast join of the p-row offset relation turns
  *     `offset(pid) + local_pos + 1` into the exact global rank.
  *
  * The result is bit-identical to the window form whenever `order` is a
  * UNIQUE total order (every call site carries a full tie-break — the
  * same precondition the window form needs for cross-engine determinism).
  * `RanksSpec` proves equality against `row_number()`/`ntile()` windows,
  * duplicates-in-the-sort-prefix included.
  *
  * Scale shape: one range exchange + local sorts (Spark's own
  * `orderBy` plan, minus the final merge), one count-only job over the
  * cached exchange, one broadcast hash join against p rows. Nothing is
  * ever single-partition. The ranked relation is persisted because the
  * offsets job and the consumer both read it; ownership is registered
  * with [[graft.CacheScope]] — a library caller runs
  * `CacheScope.release(result)` after its first action, and harness
  * callers are covered by the per-query clearCache backstop.
  */
object Ranks {

  private val midMask = (1L << 33) - 1

  /** `(df + 1-based exact global rank column `out`, total row count)`
    * over the unique total order `order`.
    *
    * `width` (r17): optional range-partition count for callers that KNOW
    * the input's size (e.g. a counted per-customer relation) — small
    * ranked relations otherwise pay session-width exchange+sort+collect
    * stages per rank pass (guide §2.2; the e13 lane ran three such
    * passes over ~15k rows at full width). 0 = session default, which a
    * 100 TB input keeps; the rank arithmetic is width-independent (exact
    * integers from per-partition counts, any partitioning of the same
    * total order). */
  def withGlobalRank(df: DataFrame, order: Seq[Column],
      out: String, width: Int = 0): (DataFrame, Long) = {
    val spark = df.sparkSession
    val p =
      if (width > 0) width else spark.sessionState.conf.numShufflePartitions
    val mid = s"__${out}_mid"
    val pidCol = s"__${out}_pid"
    val offCol = s"__${out}_off"
    // REBASED onto its own RDD before the persist (ADVICE r10 #4): the
    // offsets job and the final join are two separate consumers, and
    // repartitionByRange's boundary SAMPLING plus shuffle-read order are
    // not deterministic across plan re-executions — if a cached partition
    // were lost and the two consumers re-planned independently, rows
    // could land on different pids/mids than the collected offsets
    // assumed, silently corrupting ranks. The rebase pins both consumers
    // to ONE materialized RDD (and its one sampled boundary set).
    val sortedPlan = df.repartitionByRange(p, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(mid, monotonically_increasing_id())
    val sorted = org.apache.spark.sql.graft.Bridge.pinInternal(sortedPlan)
      .persist()
    val counts = sorted
      .groupBy(shiftrightunsigned(col(mid), 33).as(pidCol))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val total = counts.map(_._2).sum
    var acc = 0L
    val offsets = counts.map { case (pid, n) =>
      val o = (pid, acc); acc += n; o
    }.toSeq
    import spark.implicits._
    val offDf = offsets.toDF(pidCol, offCol)
    val ranked = sorted
      .withColumn(pidCol, shiftrightunsigned(col(mid), 33))
      .join(broadcast(offDf), pidCol)
      .withColumn(out,
        col(offCol) + col(mid).bitwiseAND(lit(midMask)) + lit(1L))
      .drop(mid, pidCol, offCol)
    // `sorted` stays cached until the ranked result's first action;
    // library callers release via graft.CacheScope.release(ranked)
    (graft.CacheScope.owns(ranked, sorted), total)
  }

  /** `df` + exact INCLUSIVE prefix sums of `sumCols` (BIGINT) over the
    * unique total order `order` — the distributed SCAN primitive, built
    * the same way [[withGlobalRank]] ranks: range exchange + local sorts,
    * one bounded job collects the p per-partition COLUMN TOTALS, the
    * driver prefix-sums them into per-partition offsets, and a broadcast
    * join + a PER-PARTITION running-sum window (partitioned by pid —
    * p-way parallel, never a single-partition funnel) yields
    * `offset(pid, c) + running_sum(c)`. Cumulative distribution
    * functions, running totals, and the KS statistic all derive from it
    * without a global window. Output columns are named `cum_<col>`. */
  def withPrefixSums(df: DataFrame, order: Seq[Column],
      sumCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val mid = "__ps_mid"
    val pidCol = "__ps_pid"
    // rebased-before-persist: same recompute hazard as [[withGlobalRank]]
    // (the collected per-partition totals must describe the SAME pid/mid
    // assignment the cumulative join reads — ADVICE r10 #4)
    val sortedPlan = df.repartitionByRange(p, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(mid, monotonically_increasing_id())
    val sorted = org.apache.spark.sql.graft.Bridge.pinInternal(sortedPlan)
      .persist()
    val totals = sorted
      .groupBy(shiftrightunsigned(col(mid), 33).as(pidCol))
      .agg(sumCols.map(c => sum(col(c)).as(c)).head,
        sumCols.map(c => sum(col(c)).as(c)).tail: _*)
      .collect()
      .map(r => (r.getLong(0), sumCols.map(c => r.getAs[Long](c))))
      .sortBy(_._1)
    val accs = Array.fill(sumCols.size)(0L)
    val offsets = totals.map { case (pid, ts) =>
      val row = pid +: accs.toSeq
      ts.zipWithIndex.foreach { case (t, i) => accs(i) += t }
      row
    }.toSeq
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        offsets.map(org.apache.spark.sql.Row.fromSeq), 1),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField(pidCol,
          org.apache.spark.sql.types.LongType) +:
        sumCols.map(c => org.apache.spark.sql.types.StructField(
          s"__ps_off_$c", org.apache.spark.sql.types.LongType))))
    val w = Window.partitionBy(pidCol).orderBy(col(mid))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sorted
      .withColumn(pidCol, shiftrightunsigned(col(mid), 33))
      .join(broadcast(offDf), pidCol)
    graft.CacheScope.owns(
      sumCols.foldLeft(cum) { (d, c) =>
        d.withColumn(s"cum_$c", col(s"__ps_off_$c") + sum(col(c)).over(w))
      }.drop(mid +: pidCol +: sumCols.map(c => s"__ps_off_$c"): _*),
      sorted)
  }

  /** `df` + exact `ntile(n)` (1-based, BIGINT) over the unique total
    * order `order`, via [[withGlobalRank]]: with N rows the first
    * `N mod n` tiles hold `⌊N/n⌋+1` rows and the rest `⌊N/n⌋` — the
    * standard (Spark = DuckDB) ntile split, derived from the rank with
    * integer arithmetic. */
  def withGlobalNtile(df: DataFrame, order: Seq[Column], n: Int,
      out: String, width: Int = 0): DataFrame = {
    require(n > 0, s"ntile buckets must be positive: $n")
    val (ranked, total) = withGlobalRank(df, order, out, width)
    graft.CacheScope.transfer(ranked, ranked
      .withColumn(out, ntileFromRank(col(out), total, n)))
  }

  /** The exact `ntile(n)` tile (1-based BIGINT) of a 1-based global rank
    * over `total` rows — the arithmetic half of [[withGlobalNtile]],
    * exposed so one paid [[withGlobalRank]] can feed SEVERAL tile
    * widths (the k11 lane derives its nFiles file cut AND its 2^bits
    * curve bucket from the same rank instead of ranking twice — guide
    * §2.4, "two operations keyed the same way share one exchange").
    * With N rows the first `N mod n` tiles hold `⌊N/n⌋+1` rows and the
    * rest `⌊N/n⌋` — the standard (Spark = DuckDB) ntile split. */
  def ntileFromRank(rank: Column, total: Long, n: Int): Column = {
    require(n > 0, s"ntile buckets must be positive: $n")
    val q = total / n // base tile size (0 when total < n)
    val r = total % n // tiles carrying one extra row
    val cut = r * (q + 1) // 0-based ranks below cut land in the big tiles
    // integer `div`, not `/`: Column./ is DOUBLE division, and ranks at
    // 100 TB scale can exceed double's 53-bit exact-integer range
    // (IntegralDivide via the Bridge — the expr("a div b") form needs a
    // NAMED column, and this helper takes any rank Column).
    def idiv(a: Column, b: Long): Column = org.apache.spark.sql.graft.Bridge
      .column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(lit(b))))
    // The else branch divides by q: reachable only when cut < total,
    // which implies q >= 1 (when total < n, cut = total covers all rows).
    val r0 = rank - 1
    when(r0 < cut, idiv(r0, q + 1) + 1)
      .otherwise(lit(r) + idiv(r0 - cut, math.max(q, 1L)) + 1)
      .cast("bigint")
  }
}
