package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering — the table-maintenance side of scan pruning.
  *
  * [[zorderManifest]] is the planning face of multi-dimensional
  * clustering (Delta/Iceberg `OPTIMIZE ZORDER BY`): rows are ordered
  * along a Morton (z-order) curve over two dimensions and cut into
  * target files, so per-file min/max ranges are tight in BOTH
  * dimensions and a predicate on either column can skip most files —
  * a linear sort gives tight ranges in the sort column only. Parquet
  * row-group pruning over such a layout is what `k6_rowgroup_pruning`
  * measures; this operator produces the layout plan itself.
  *
  * Both dimensions are rank-bucketed (exact `ntile` semantics) before
  * bit interleaving — the standard range-id construction, immune to skew
  * and to value ranges wider than the bit budget. Everything is built
  * from integer + bit arithmetic, so the manifest is oracle-exact in
  * [[LayoutSql.zorderManifest]].
  *
  * Scale shape (r8 verdict ask #2): every bucketing runs through
  * [[Ranks.withGlobalNtile]] — `repartitionByRange` + local sort +
  * bounded per-partition offsets — NOT a global window, so no stage ever
  * funnels the table through one task, while the assignment stays
  * bit-identical to the window form (proven in `RanksSpec`; the DuckDB
  * twins still hash-match their `ntile` windows). The 100 TB write path
  * is the same plan with `write` where the manifest aggregate sits.
  */
object Layout {

  /** Morton interleave of the low `bits` bits of two non-negative long
    * columns: x occupies even bit positions, y odd. A fold of codegen'd
    * shift/mask builtins — no UDF. */
  def zValue(bx: Column, by: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftrightunsigned(bx, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftrightunsigned(by, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Z-order layout manifest for `lineitem` over `(l_orderkey,
    * l_partkey)`: `(file_id, n_rows, min_orderkey, max_orderkey,
    * min_partkey, max_partkey)`, one row per target file. Deterministic
    * end to end: every `ntile` window carries the full
    * `(l_orderkey, l_linenumber)` tie-break. */
  def zorderManifest(lineitem: DataFrame, nFiles: Int = 16, bits: Int = 8): DataFrame = {
    val buckets = 1 << bits
    val tie = Seq(col("l_orderkey"), col("l_linenumber"))
    val base = lineitem
      .select(col("l_orderkey").cast("bigint").as("l_orderkey"),
        col("l_partkey").cast("bigint").as("l_partkey"),
        col("l_linenumber").cast("bigint").as("l_linenumber"))
    val bucketed = Ranks.withGlobalNtile(
        Ranks.withGlobalNtile(base, tie, buckets, "bx1"),
        col("l_partkey") +: tie, buckets, "by1")
      .withColumn("bx", col("bx1") - 1)
      .withColumn("by", col("by1") - 1)
      .withColumn("zval", zValue(col("bx"), col("by"), bits))
      .drop("bx1", "by1", "bx", "by") // only zval rides the final exchange
    Ranks.withGlobalNtile(bucketed, col("zval") +: tie, nFiles, "file_id")
      .groupBy("file_id")
      .agg(count("*").as("n_rows"),
        min("l_orderkey").as("min_orderkey"),
        max("l_orderkey").as("max_orderkey"),
        min("l_partkey").as("min_partkey"),
        max("l_partkey").as("max_partkey"))
  }

  /** Single-column (linear sort) manifest — the no-clustering baseline
    * [[zorderManifest]] and [[hilbertManifest]] are measured against:
    * same file cutting, but rows ordered by `l_orderkey` alone, so
    * per-file `l_partkey` ranges span the whole domain. */
  def linearManifest(lineitem: DataFrame, nFiles: Int = 16): DataFrame = {
    val base = lineitem
      .select(col("l_orderkey").cast("bigint").as("l_orderkey"),
        col("l_partkey").cast("bigint").as("l_partkey"),
        col("l_linenumber").cast("bigint").as("l_linenumber"))
    Ranks.withGlobalNtile(base,
        Seq(col("l_orderkey"), col("l_linenumber")), nFiles, "file_id")
      .groupBy("file_id")
      .agg(count("*").as("n_rows"),
        min("l_orderkey").as("min_orderkey"),
        max("l_orderkey").as("max_orderkey"),
        min("l_partkey").as("min_partkey"),
        max("l_partkey").as("max_partkey"))
  }

  /** Hilbert-curve layout manifest — same bucketing, file cutting, and
    * manifest schema as [[zorderManifest]], but rows follow the Hilbert
    * curve instead of the Morton curve. Hilbert never takes the long
    * diagonal jumps Morton does (consecutive curve positions are always
    * grid-adjacent — proven in `LayoutSpec`), so per-file bounding boxes
    * are tighter and scans skip more files; Morton's only edge is the
    * cheaper index function. Databricks liquid clustering made the same
    * trade.
    *
    * The xy2d bit walk unrolls as one PROJECTION PER BIT threading named
    * columns `(hx, hy, hd)` — a single folded Column would substitute
    * each step's x/y into the next THREE times over, an exponential
    * expression tree. CollapseProject leaves multi-reference non-trivial
    * aliases in place, so the plan keeps `order` slim stages, all
    * codegen'd shift/mask/case builtins, no UDF. */
  def hilbertManifest(lineitem: DataFrame, nFiles: Int = 16, order: Int = 8): DataFrame = {
    val buckets = 1 << order
    val tie = Seq(col("l_orderkey"), col("l_linenumber"))
    val base = lineitem
      .select(col("l_orderkey").cast("bigint").as("l_orderkey"),
        col("l_partkey").cast("bigint").as("l_partkey"),
        col("l_linenumber").cast("bigint").as("l_linenumber"))
    val bucketed = Ranks.withGlobalNtile(
        Ranks.withGlobalNtile(base, tie, buckets, "hx1"),
        col("l_partkey") +: tie, buckets, "hy1")
      .withColumn("hx", col("hx1") - 1)
      .withColumn("hy", col("hy1") - 1)
      .drop("hx1", "hy1")
    val df = hilbertWalk(bucketed, order)
    Ranks.withGlobalNtile(df, col("hd") +: tie, nFiles, "file_id")
      .groupBy("file_id")
      .agg(count("*").as("n_rows"),
        min("l_orderkey").as("min_orderkey"),
        max("l_orderkey").as("max_orderkey"),
        min("l_partkey").as("min_partkey"),
        max("l_partkey").as("max_partkey"))
  }

  /** The unrolled xy2d bit walk (see [[hilbertManifest]]'s scaladoc):
    * consumes 0-based grid columns `hx`/`hy`, appends the Hilbert
    * position `hd`, drops the intermediates. Factored so the composed
    * skip-stats lane ([[skipStats]]) can drive it from its SHARED
    * bucketing instead of re-ranking the table. */
  private def hilbertWalk(bucketed: DataFrame, order: Int): DataFrame = {
    var df = bucketed.withColumn("hd", lit(0L))
    for (i <- (order - 1) to 0 by -1) {
      val s = 1L << i
      val rx = when(col("hx").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      val ry = when(col("hy").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      df = df
        .withColumn("rx", rx).withColumn("ry", ry)
        .withColumn("hd",
          col("hd") + lit(s * s) * (lit(3L) * col("rx")).bitwiseXOR(col("ry")))
        .withColumn("nx",
          when(col("ry") === 1, col("hx"))
            .when(col("rx") === 0, col("hy"))
            .otherwise(lit(s - 1) - col("hy")))
        .withColumn("ny",
          when(col("ry") === 1, col("hy"))
            .when(col("rx") === 0, col("hx"))
            .otherwise(lit(s - 1) - col("hx")))
        .withColumn("hx", col("nx")).withColumn("hy", col("ny"))
        .drop("rx", "ry", "nx", "ny")
    }
    df.drop("hx", "hy")
  }

  /** The payoff measurement the manifests exist for: how many files a
    * min/max-pruned scan touches for a band predicate on `l_partkey`
    * (the NON-sort dimension — where the linear layout can't skip),
    * under each of the three layouts at the same file budget. The band
    * is the middle decile of the partkey domain, derived from the data
    * with integer arithmetic so both engines compute identical bounds.
    * This is the planning-time face of k6's row-group pruning: `files_
    * hit / n_files` is exactly the fraction of a 100 TB table a
    * predicate-pushdown scan reads under each layout. */
  def skipStats(lineitem: DataFrame, nFiles: Int = 16, bits: Int = 8): DataFrame = {
    val bounds = lineitem
      .agg(min(col("l_partkey").cast("bigint")).as("pmin"),
        max(col("l_partkey").cast("bigint")).as("pmax"))
      .select(expr("pmin + (pmax - pmin) * 45 div 100").as("lo"),
        expr("pmin + (pmax - pmin) * 55 div 100").as("hi"))
    // SHARED RANKS (r16, guide §2.4): the three manifests agree on two
    // total orders — linear's file cut and z/hilbert's x-bucket both
    // rank by (l_orderkey, l_linenumber), and z/hilbert share the
    // y-bucket order (l_partkey, ...) — so the composed lane pays TWO
    // global ranks instead of the standalone operators' seven (linear 1
    // + zorder 3 + hilbert 3) and scans lineitem once instead of three
    // times. Each ntile is [[Ranks.ntileFromRank]] over the shared rank
    // — the IDENTICAL arithmetic [[Ranks.withGlobalNtile]] applies, so
    // every file cut (and the DuckDB twin) is bit-for-bit unchanged.
    // Only the two curve cuts (zval / hd orders differ) still rank
    // separately. The doubly-ranked base persists for its three
    // consumers; ownership transfers to the returned aggregate.
    val tie = Seq(col("l_orderkey"), col("l_linenumber"))
    val buckets = 1 << bits
    val base = lineitem
      .select(col("l_orderkey").cast("bigint").as("l_orderkey"),
        col("l_partkey").cast("bigint").as("l_partkey"),
        col("l_linenumber").cast("bigint").as("l_linenumber"))
    val (rankedX, totalX) = Ranks.withGlobalRank(base, tie, "__rkx")
    val (rankedXY, _) = Ranks.withGlobalRank(rankedX,
      col("l_partkey") +: tie, "__rky")
    // no extra persist: rankedXY is a broadcast offset join + rank
    // arithmetic over withGlobalRank's OWN cached sorted base, so each
    // of the three manifest consumers re-reads that cache, never the
    // exchanges
    val shared = rankedXY
    def manifest(df: DataFrame, fileId: Column): DataFrame = df
      .withColumn("file_id", fileId)
      .groupBy("file_id")
      .agg(count("*").as("n_rows"),
        min("l_orderkey").as("min_orderkey"),
        max("l_orderkey").as("max_orderkey"),
        min("l_partkey").as("min_partkey"),
        max("l_partkey").as("max_partkey"))
    val linear = manifest(shared,
      Ranks.ntileFromRank(col("__rkx"), totalX, nFiles))
    val zBase = shared
      .withColumn("bx", Ranks.ntileFromRank(col("__rkx"), totalX, buckets) - 1)
      .withColumn("by", Ranks.ntileFromRank(col("__rky"), totalX, buckets) - 1)
      .drop("__rkx", "__rky") // the curve cuts re-rank; keep their wires narrow
    val zorder = manifest(
      Ranks.withGlobalNtile(
        zBase.withColumn("zval", zValue(col("bx"), col("by"), bits))
          .drop("bx", "by"),
        col("zval") +: tie, nFiles, "zfile")
        .withColumnRenamed("zfile", "__zfile"),
      col("__zfile"))
    val hilbert = manifest(
      Ranks.withGlobalNtile(
        hilbertWalk(zBase.withColumnRenamed("bx", "hx")
          .withColumnRenamed("by", "hy"), bits),
        col("hd") +: tie, nFiles, "hfile")
        .withColumnRenamed("hfile", "__hfile"),
      col("__hfile"))
    val m = linear.withColumn("layout", lit("linear"))
      .unionByName(zorder.withColumn("layout", lit("zorder")))
      .unionByName(hilbert.withColumn("layout", lit("hilbert")))
    graft.CacheScope.transfer(rankedX, graft.CacheScope.transfer(rankedXY,
      m.crossJoin(bounds) // one-row scalar broadcast
        .groupBy("layout")
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("min_partkey") <= col("hi") &&
            col("max_partkey") >= col("lo"), 1L).otherwise(0L)).as("files_hit"))
        .orderBy("layout")))
  }
}

object LayoutSql {

  private def interleaveSql(bx: String, by: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($bx >> $i) & 1) << ${2 * i}) | ((($by >> $i) & 1) << ${2 * i + 1})")
      .mkString(" | ")

  /** Twin of [[Layout.zorderManifest]]: same rank buckets, same
    * interleave, same tie-breaks. */
  def zorderManifest(nFiles: Int, bits: Int): String = {
    val buckets = 1 << bits
    s"""SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
       |       min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
       |       min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey
       |FROM (
       |  SELECT l_orderkey, l_partkey,
       |         CAST(ntile($nFiles) OVER (ORDER BY zval, l_orderkey, l_linenumber)
       |              AS BIGINT) AS file_id
       |  FROM (
       |    SELECT l_orderkey, l_partkey, l_linenumber,
       |           ${interleaveSql("bx", "by", bits)} AS zval
       |    FROM (
       |      SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       |             CAST(l_partkey AS BIGINT) AS l_partkey,
       |             CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |             CAST(ntile($buckets) OVER (ORDER BY l_orderkey, l_linenumber)
       |                  AS BIGINT) - 1 AS bx,
       |             CAST(ntile($buckets) OVER (ORDER BY l_partkey, l_orderkey,
       |                                        l_linenumber) AS BIGINT) - 1 AS by
       |      FROM lineitem)))
       |GROUP BY file_id ORDER BY file_id""".stripMargin
  }

  /** Twin of [[Layout.hilbertManifest]] — the identical xy2d walk
    * unrolled as nested subqueries, one per bit, generated from the same
    * loop so the two engines cannot drift. */
  def hilbertManifest(nFiles: Int, order: Int): String = {
    val buckets = 1 << order
    var inner =
      s"""SELECT l_orderkey, l_partkey, l_linenumber,
         |       CAST(ntile($buckets) OVER (ORDER BY l_orderkey, l_linenumber)
         |            AS BIGINT) - 1 AS hx,
         |       CAST(ntile($buckets) OVER (ORDER BY l_partkey, l_orderkey,
         |                                  l_linenumber) AS BIGINT) - 1 AS hy,
         |       CAST(0 AS BIGINT) AS hd
         |FROM (SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
         |             CAST(l_partkey AS BIGINT) AS l_partkey,
         |             CAST(l_linenumber AS BIGINT) AS l_linenumber
         |      FROM lineitem)""".stripMargin
    for (i <- (order - 1) to 0 by -1) {
      val s = 1L << i
      inner =
        s"""SELECT l_orderkey, l_partkey, l_linenumber,
           |       CASE WHEN ry = 1 THEN hx WHEN rx = 0 THEN hy
           |            ELSE ${s - 1} - hy END AS hx,
           |       CASE WHEN ry = 1 THEN hy WHEN rx = 0 THEN hx
           |            ELSE ${s - 1} - hx END AS hy,
           |       hd + ${s * s} * xor(3 * rx, ry) AS hd
           |FROM (SELECT *,
           |             CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
           |             CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
           |      FROM ($inner))""".stripMargin
    }
    s"""SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
       |       min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
       |       min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey
       |FROM (
       |  SELECT l_orderkey, l_partkey,
       |         CAST(ntile($nFiles) OVER (ORDER BY hd, l_orderkey, l_linenumber)
       |              AS BIGINT) AS file_id
       |  FROM ($inner))
       |GROUP BY file_id ORDER BY file_id""".stripMargin
  }

  /** Twin of [[Layout.linearManifest]]. */
  def linearManifest(nFiles: Int): String =
    s"""SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
       |       min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
       |       min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey
       |FROM (
       |  SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       |         CAST(l_partkey AS BIGINT) AS l_partkey,
       |         CAST(ntile($nFiles) OVER (ORDER BY l_orderkey, l_linenumber)
       |              AS BIGINT) AS file_id
       |  FROM lineitem)
       |GROUP BY file_id ORDER BY file_id""".stripMargin

  /** Twin of [[Layout.skipStats]] — the three manifest queries inlined as
    * subqueries, the same integer band bounds. */
  def skipStats(nFiles: Int, bits: Int): String =
    s"""WITH b AS (
       |  SELECT CAST(min(l_partkey) AS BIGINT)
       |           + (CAST(max(l_partkey) AS BIGINT)
       |              - CAST(min(l_partkey) AS BIGINT)) * 45 // 100 AS lo,
       |         CAST(min(l_partkey) AS BIGINT)
       |           + (CAST(max(l_partkey) AS BIGINT)
       |              - CAST(min(l_partkey) AS BIGINT)) * 55 // 100 AS hi
       |  FROM lineitem),
       |m AS (
       |  SELECT 'linear' AS layout, * FROM (${linearManifest(nFiles)})
       |  UNION ALL
       |  SELECT 'zorder' AS layout, * FROM (${zorderManifest(nFiles, bits)})
       |  UNION ALL
       |  SELECT 'hilbert' AS layout, * FROM (${hilbertManifest(nFiles, bits)}))
       |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
       |       CAST(sum(CASE WHEN min_partkey <= b.hi AND max_partkey >= b.lo
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS files_hit
       |FROM m CROSS JOIN b
       |GROUP BY layout ORDER BY layout""".stripMargin
}
