package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

class LayoutSpec extends SparkSuite {

  /** Reference Hilbert index (the public xy2d walk, rotation scoped to
    * the current sub-square side): maps cell `(x, y)` of the
    * `2^order × 2^order` grid to its position along the Hilbert curve.
    * Drives the spec's bijection/adjacency proof and documents the exact
    * recurrence both engine twins unroll. */
  private def hilbertIndexRef(order: Int, x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        val (fx, fy) = if (rx == 1) (s - 1 - x, s - 1 - y) else (x, y)
        x = fy; y = fx
      }
      s >>= 1
    }
    d
  }

  import spark.implicits._

  test("zValue interleaves bits: known Morton vectors") {
    // x occupies even bit positions, y odd: morton(3,0)=0b0101=5,
    // morton(0,3)=0b1010=10; the rest checked against an independent
    // scalar implementation of the same construction
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val cases = Seq((3L, 0L), (0L, 3L), (3L, 3L), (5L, 2L), (255L, 1L), (0L, 0L))
    val got = cases.toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 8)).as[Long].collect()
    assert(got.toSeq === cases.map { case (x, y) => morton(x, y, 8) })
    assert(morton(3L, 0L, 8) === 5L && morton(0L, 3L, 8) === 10L)
  }

  test("zorderManifest: covers all rows; files tight in BOTH dimensions") {
    // a 32x32 grid: a linear sort on l_orderkey gives per-file l_partkey
    // ranges spanning the full domain; the z-order layout must cut the
    // summed partkey span by a wide margin — that span is exactly what a
    // min/max-pruned scan on l_partkey pays per file.
    val grid = for { x <- 0 until 32; y <- 0 until 32 }
      yield (x.toLong, y.toLong, 1L)
    val li = grid.toDF("l_orderkey", "l_partkey", "l_linenumber")
    val manifest = Layout.zorderManifest(li, nFiles = 16, bits = 5).cache()
    assert(manifest.agg(sum("n_rows")).as[Long].head() === 1024L)
    assert(manifest.count() === 16L)
    val zSpan = manifest
      .agg(sum(col("max_partkey") - col("min_partkey"))).as[Long].head()
    val wLinear = Window.orderBy("l_orderkey", "l_linenumber")
    val linSpan = li.withColumn("file_id", ntile(16).over(wLinear))
      .groupBy("file_id")
      .agg((max("l_partkey") - min("l_partkey")).as("span"))
      .agg(sum("span")).as[Long].head()
    manifest.unpersist()
    // 16 files of a 32x32 grid: z-order files are 8x8 blocks (span 7·16 +
    // boundary slack); linear files span the full 0..31 partkey range
    assert(linSpan === 31L * 16)
    assert(zSpan < linSpan / 2, s"z-order span $zSpan vs linear $linSpan")
  }

  test("hilbertIndexRef: bijective and jump-free (the Hilbert property)") {
    val order = 4
    val n = 1 << order
    val cells = for { x <- 0 until n; y <- 0 until n }
      yield hilbertIndexRef(order, x, y) -> ((x, y))
    val byD = cells.toMap
    // bijection onto [0, n²)
    assert(byD.keySet === (0 until n * n).map(_.toLong).toSet)
    // consecutive curve positions are always grid-adjacent — the
    // locality guarantee Morton lacks (Morton jumps diagonals)
    (1 until n * n).foreach { d =>
      val (x1, y1) = byD(d - 1L); val (x2, y2) = byD(d.toLong)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"jump at d=$d: ($x1,$y1)->($x2,$y2)")
    }
  }

  test("hilbertManifest: the projection-chain walk equals the reference") {
    // a 16x16 grid with order=4 makes ntile ranks the identity, so the
    // curve position of each cell is directly hilbertIndexRef(x, y);
    // equal file counts then force the manifest to agree cell for cell
    // with a manifest built from the reference index
    val n = 16
    val grid = for { x <- 0 until n; y <- 0 until n }
      yield (x.toLong, y.toLong, 1L)
    val li = grid.toDF("l_orderkey", "l_partkey", "l_linenumber")
    val got = Layout.hilbertManifest(li, nFiles = 16, order = 4)
      .orderBy("file_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val expect = grid
      .map { case (x, y, _) => (hilbertIndexRef(4, x, y), x, y) }
      .sortBy(_._1)
      .grouped(16).zipWithIndex
      .map { case (chunk, i) =>
        (i + 1L, chunk.size.toLong,
          chunk.map(_._2).min, chunk.map(_._2).max,
          chunk.map(_._3).min, chunk.map(_._3).max)
      }.toSeq
    assert(got.toSeq === expect)
  }

  test("hilbertManifest: tighter total span than z-order on the same grid") {
    // the measurable payoff of jump-free locality: summed per-file
    // bounding-box extent (what min/max pruning pays) must not exceed
    // z-order's on the identical grid/file budget — on 16 files of a
    // 32x32 grid Hilbert cuts pure 8x8 tiles too, but stays at least as
    // tight on BOTH dimensions combined
    val grid = for { x <- 0 until 32; y <- 0 until 32 }
      yield (x.toLong, y.toLong, 1L)
    val li = grid.toDF("l_orderkey", "l_partkey", "l_linenumber")
    def spanOf(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("max_partkey") - col("min_partkey") +
        col("max_orderkey") - col("min_orderkey"))).as[Long].head()
    val h = spanOf(Layout.hilbertManifest(li, nFiles = 16, order = 5))
    val z = spanOf(Layout.zorderManifest(li, nFiles = 16, bits = 5))
    assert(h <= z, s"hilbert span $h vs z-order $z")
    val cover = Layout.hilbertManifest(li, nFiles = 16, order = 5)
      .agg(sum("n_rows")).as[Long].head()
    assert(cover === 1024L)
  }

  test("skipStats: clustering strictly beats linear on the band scan") {
    val grid = for { x <- 0 until 32; y <- 0 until 32 }
      yield (x.toLong, y.toLong, 1L)
    val li = grid.toDF("l_orderkey", "l_partkey", "l_linenumber")
    val got = Layout.skipStats(li, nFiles = 16, bits = 5).collect()
      .map(r => r.getAs[String]("layout") ->
        ((r.getAs[Long]("n_files"), r.getAs[Long]("files_hit")))).toMap
    // linear sorts by orderkey only: every file spans the whole partkey
    // domain, so the partkey band hits ALL 16 files
    assert(got("linear") === ((16L, 16L)))
    // the clustered layouts cut 8x8 tiles: the middle-decile band
    // (partkey 13..17 of 0..31) crosses one tile-row boundary -> at most
    // half the files, and never more than linear
    assert(got("zorder")._2 < 16L && got("hilbert")._2 < 16L)
    assert(got("zorder")._2 <= 8L && got("hilbert")._2 <= 8L)
  }
}
