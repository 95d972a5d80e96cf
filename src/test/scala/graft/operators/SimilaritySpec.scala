package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.{cosine_sim, dot_product, pq_adc, srp_sig}
import graft.operators.Similarity.{ExactCos, Ivf, OneList, PqAdc, Sq8Cos}

class SimilaritySpec extends SparkSuite {

  /** The interpreted-lambda composition [[Similarity.quantizeInt8Stats]]
    * replaced: the one-pass kernel must compute the same audit. */
  private def quantizeInt8StatsComposed(emb: DataFrame): DataFrame = {
    val x = transform(col("embedding"), e => e.cast("double"))
    val scale = array_max(transform(x, e => abs(e))) / 127.0
    def err(s: Column) = array_max(transform(x, e =>
      abs(e - greatest(lit(-127.0), least(lit(127.0),
        floor(e / s + 0.5).cast("double"))) * s)))
    emb.select(
      col("vec_id"),
      size(col("embedding")).as("n_dims"),
      round(scale, 6).as("qscale"),
      when(scale === 0.0, 0.0).otherwise(round(err(scale), 6)).as("max_abs_err"))
  }

  import spark.implicits._

  private def vecDf(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("cosine_sim matches a reference computation on float arrays") {
    val a = Seq(1.0f, 2.0f, 3.0f)
    val b = Seq(-1.0f, 0.5f, 2.0f)
    val got = vecDf((1L, a)).withColumn("b", lit(b.toArray))
      .select(cosine_sim($"embedding", $"b")).head().getDouble(0)
    def ref(x: Seq[Float], y: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      x.indices.foreach { i =>
        val (xi, yi) = (x(i).toDouble, y(i).toDouble)
        dot += xi * yi; na += xi * xi; nb += yi * yi
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    assert(got === ref(a, b))
  }

  test("cosine_sim: orthogonal -> 0, parallel -> 1, zero vector -> 0") {
    val rows = vecDf((1L, Seq(1f, 0f))).select(
      cosine_sim($"embedding", lit(Array(0f, 1f))),
      cosine_sim($"embedding", lit(Array(2f, 0f))),
      cosine_sim($"embedding", lit(Array(0f, 0f)))).head()
    assert(rows.getDouble(0) === 0.0)
    assert(rows.getDouble(1) === 1.0)
    assert(rows.getDouble(2) === 0.0)
  }

  test("dot_product: float and double element types, index-order accumulation") {
    val row = vecDf((1L, Seq(1.5f, -2.0f, 4.0f))).select(
      dot_product($"embedding", lit(Array(2.0f, 3.0f, 0.5f))),
      dot_product($"embedding".cast("array<double>"),
        lit(Array(2.0, 3.0, 0.5)))).head()
    val expect = 1.5 * 2.0 + (-2.0) * 3.0 + 4.0 * 0.5
    assert(row.getDouble(0) === expect)
    assert(row.getDouble(1) === expect)
  }

  test("pq_adc sums the table entries the codes select") {
    // ksub = 4, m = 2: table laid out j*4 + code
    val table = Array.tabulate(8)(i => i * 10.0) // [0,10,...,70]
    val row = vecDf((1L, Seq(0f))).select(
      pq_adc(lit(table), lit(Array(3, 1)), 4), // 30 + 50
      pq_adc(lit(table), lit(Array(0, 0)), 4)  // 0 + 40
    ).head()
    assert(row.getDouble(0) === 80.0)
    assert(row.getDouble(1) === 40.0)
  }

  test("bruteForceTopK ranks by cosine with id tie-break") {
    val e = vecDf(
      (0L, Seq(1f, 0f)),   // query
      (1L, Seq(1f, 0.1f)), // closest
      (2L, Seq(1f, 0.5f)),
      (3L, Seq(0f, 1f)),   // orthogonal
      (4L, Seq(-1f, 0f)))  // opposite
    val got = Similarity.bruteForceTopK(e, $"vec_id" === 0, k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(got === Seq(1L, 2L, 3L))
  }

  test("bruteForcePairs finds exactly the >= threshold pairs") {
    val e = vecDf(
      (1L, Seq(1f, 0f)), (2L, Seq(1f, 0.01f)), // ~1.0
      (3L, Seq(0f, 1f)), (4L, Seq(0.01f, 1f)), // ~1.0
      (5L, Seq(0.7f, 0.7f)))                   // ~0.7 to both axes
    val got = Similarity.bruteForcePairs(e, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (3L, 4L)))
  }

  test("bruteForcePairs fails fast past its corpus-size fence") {
    val e = vecDf((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
    val ex = intercept[IllegalArgumentException] {
      Similarity.bruteForcePairs(e, 0.5, maxRows = 2L)
    }
    assert(ex.getMessage.contains("O(n^2) oracle lane"))
  }

  test("semanticDedup: keeps first of every within-cluster dup relation") {
    // seedStride=2 -> seeds {0, 2}: 0/1 cluster on the x-axis, 2/3/5 on y.
    // 1 duplicates 0 (same cluster, cos~1) -> removed; 3 duplicates 2 ->
    // removed; 5 is in the y cluster but below threshold -> kept.
    val e = vecDf(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0.01f)),
      (2L, Seq(0f, 1f)), (3L, Seq(0.01f, 1f)),
      (5L, Seq(0.6f, 0.8f)))
    val got = Similarity.semanticDedup(e, threshold = 0.9, seedStride = 2)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got === Set(
      (0L, 0L, true), (1L, 0L, false),
      (2L, 2L, true), (3L, 2L, false),
      (5L, 2L, true)))
  }

  test("semanticDedup: cluster blocking never removes across clusters") {
    // 1 and 3 are near-identical but land in different clusters (each is
    // nearest its own seed): SemDeDup by construction does NOT see the
    // pair — both kept. The recall/cost trade the paper makes explicit.
    val e = vecDf(
      (0L, Seq(1f, 0f)), (1L, Seq(0.76f, 0.65f)),
      (2L, Seq(0f, 1f)), (3L, Seq(0.65f, 0.76f)))
    val got = Similarity.semanticDedup(e, threshold = 0.9, seedStride = 2)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got === Set(
      (0L, 0L, true), (1L, 0L, true),
      (2L, 2L, true), (3L, 2L, true)))
  }

  test("srp_sig: deterministic, and near-identical vectors mostly agree") {
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val df = vecDf((1L, base.toSeq), (2L, near.toSeq), (3L, far.toSeq))
      .select($"vec_id", srp_sig($"embedding", 16, 0).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = vecDf((1L, base.toSeq))
      .select(srp_sig($"embedding", 16, 0)).head().getLong(0)
    assert(sigs(1L) === again)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) <= 2, "tiny perturbation flips few bits")
    assert(ham(sigs(1L), sigs(3L)) >= 3, "unrelated vectors differ more")
  }

  test("annTopK: high recall@1 on clustered data") {
    // 20 tight clusters of 10 vectors each; query one member per cluster,
    // its true top-1 is another member of the same cluster
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(32)(rnd.nextGaussian()))
    val rows = for {
      c <- 0 until 20
      i <- 0 until 10
    } yield {
      val v = centers(c).map(x => (x + rnd.nextGaussian() * 0.03).toFloat)
      ((c * 10 + i).toLong, v.toSeq)
    }
    val e = vecDf(rows: _*)
    val queryPred = col("vec_id") % 10 === 0

    val exact = Similarity.bruteForceTopK(e, queryPred, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val approx = Similarity.annTopK(e, queryPred, 1, sigBits = 16, bands = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap

    val hits = exact.count { case (q, n) => approx.get(q).contains(n) }
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.8, s"recall@1 = $recall")
    // and every approx neighbor must at least be from the right cluster
    approx.foreach { case (q, n) => assert(n / 10 === q / 10, s"query $q -> $n") }

    // IVF with a generous probe budget on the same clustered data
    val ivf = Similarity.indexTopK(e, queryPred, 1, Ivf(nCentroids = 16, nProbe = 8), ExactCos)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val ivfRecall = exact.count { case (q, n) => ivf.get(q).contains(n) }.toDouble / exact.size
    assert(ivfRecall >= 0.6, s"IVF recall@1 = $ivfRecall")
    assert(ivf.keySet === exact.keySet, "every query must return a neighbor")
  }

  test("pqTopK: high recall@1 on clustered data; output shape lawful") {
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(20)(Array.fill(32)(rnd.nextGaussian()))
    val rows = for { c <- 0 until 20; i <- 0 until 10 } yield {
      val v = centers(c).map(x => (x + rnd.nextGaussian() * 0.03).toFloat)
      ((c * 10 + i).toLong, v.toSeq)
    }
    val e = vecDf(rows: _*)
    val queryPred = col("vec_id") % 10 === 0

    val exact = Similarity.bruteForceTopK(e, queryPred, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val cb = Similarity.trainPqCodebook(e, m = 4, ksub = 16, iters = 2, seed = 7)
    val pq = Similarity.indexTopK(e, queryPred, 1, OneList, PqAdc(cb, m = 4, ksub = 16),
      shortlist = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap

    assert(pq.keySet === exact.keySet, "every query must return a neighbor")
    val recall = exact.count { case (q, n) => pq.get(q).contains(n) }.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall@1 = $recall")
    // tight clusters: the shortlist's exact re-rank must land in-cluster
    pq.foreach { case (q, n) => assert(n / 10 === q / 10, s"query $q -> $n") }

    // the IVF×PQ composition on the same clustered data: a generous probe
    // budget keeps the coarse pruning near-lossless here, so recall is
    // dominated by the same quantization as plain PQ
    val ivfpq = Similarity.indexTopK(e, queryPred, 1,
      Ivf(nCentroids = 16, nProbe = 8), PqAdc(cb, m = 4, ksub = 16), shortlist = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(ivfpq.keySet === exact.keySet, "every query must return a neighbor")
    val ivfpqRecall =
      exact.count { case (q, n) => ivfpq.get(q).contains(n) }.toDouble / exact.size
    assert(ivfpqRecall >= 0.6, s"IVF×PQ recall@1 = $ivfpqRecall")

    // residual encoding is built FOR clustered lists (codes spend the
    // codebook on the tight within-list distribution) — on this data it
    // must do at least as well as the probe-limited budget demands.
    // (On near-uniform random vectors — the registered queries' testdata —
    // residuals are no tighter than raw vectors and measured recall is
    // slightly lower; both variants ship, documented.)
    val ivf = Ivf(nCentroids = 16, nProbe = 8)
    val resCb = Similarity.trainResidualPqCodebook(e, ivf, m = 4, ksub = 16,
      iters = 2, seed = 7)
    val res = Similarity.indexTopK(e, queryPred, 1, ivf,
      PqAdc(resCb, m = 4, ksub = 16, residual = true), shortlist = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(res.keySet === exact.keySet, "every query must return a neighbor")
    val resRecall =
      exact.count { case (q, n) => res.get(q).contains(n) }.toDouble / exact.size
    assert(resRecall >= 0.6, s"residual IVF×PQ recall@1 = $resRecall")

    // train-once/serve-many lifecycle: the persisted residual codebook
    // must reproduce the freshly trained answer EXACTLY (training is
    // deterministic: hash-order init + fixed seeds)
    val path = java.nio.file.Files.createTempDirectory("rescb").toString + "/cb"
    Similarity.saveResidualPqCodebook(e, path, ivf, m = 4, ksub = 16, iters = 2, seed = 7)
    val served = Similarity.indexTopK(e, queryPred, 1, ivf,
      PqAdc(Similarity.loadPqCodebook(spark, path), m = 4, ksub = 16, residual = true),
      shortlist = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(served === res, "persisted artifact must reproduce the trained codebook")
  }

  test("indexTopK: every layout × scorer point is exact with every list probed") {
    // the pqTopK test's clustered data. With nProbe = nCentroids and a
    // shortlist of the whole corpus, every point must return exactly the
    // brute-force rows, ranks and cos: the assignment and candidate join
    // meet each pair once, and the exact re-rank sees every candidate
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(20)(Array.fill(32)(rnd.nextGaussian()))
    val rows = for { c <- 0 until 20; i <- 0 until 10 } yield {
      val v = centers(c).map(x => (x + rnd.nextGaussian() * 0.03).toFloat)
      ((c * 10 + i).toLong, v.toSeq)
    }
    val e = vecDf(rows: _*)
    val queryPred = col("vec_id") % 10 === 0
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").as[(Long, Int, Long, Double)].collect().toSeq
    val exact = ranked(Similarity.bruteForceTopK(e, queryPred, k = 5))
    assert(exact.size === 20 * 5)

    val ivf = Ivf(nCentroids = 16, nProbe = 16)
    val pq = PqAdc(Similarity.trainPqCodebook(e, m = 4, ksub = 16, iters = 2, seed = 7),
      m = 4, ksub = 16)
    val res = PqAdc(Similarity.trainResidualPqCodebook(e, ivf, m = 4, ksub = 16,
      iters = 2, seed = 7), m = 4, ksub = 16, residual = true)
    Seq(("one list × exact", OneList, ExactCos), ("one list × sq8", OneList, Sq8Cos),
      ("one list × pq", OneList, pq), ("ivf × exact", ivf, ExactCos),
      ("ivf × sq8", ivf, Sq8Cos), ("ivf × pq", ivf, pq), ("ivf × residual pq", ivf, res)
    ).foreach { case (point, lists, scorer) =>
      assert(ranked(Similarity.indexTopK(e, queryPred, k = 5, lists, scorer,
        shortlist = 200)) === exact, point)
    }
  }

  test("recallVsExact: counts and gate, both directions") {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(10)(Array.fill(32)(rnd.nextGaussian()))
    val rows = for { c <- 0 until 10; i <- 0 until 8 } yield {
      val v = centers(c).map(x => (x + rnd.nextGaussian() * 0.03).toFloat)
      ((c * 8 + i).toLong, v.toSeq)
    }
    val e = vecDf(rows: _*)
    val pred = col("vec_id") % 8 === 0
    val ann = Similarity.annTopK(e, pred, 2, sigBits = 16, bands = 4)

    val ok = Similarity.recallVsExact(e, ann, pred, 2, floor = 0.5).head()
    assert(ok.getAs[Long]("n_queries") === 10L)
    assert(ok.getAs[Long]("n_exact") === 20L)
    assert(ok.getAs[Boolean]("recall_ok"))

    // an impossible floor must flip the gate, proving it actually measures
    val bad = Similarity.recallVsExact(e, ann.limit(0), pred, 2, floor = 0.5).head()
    assert(!bad.getAs[Boolean]("recall_ok"))
  }

  test("quantizeInt8Stats: error bounded by scale/2; zero vector safe") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 20L).map(i => (i, Seq.fill(32)(rnd.nextGaussian().toFloat))) :+
      (99L, Seq.fill(32)(0.0f))
    val out = Similarity.quantizeInt8Stats(vecDf(rows: _*))
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    assert(out.length === 21)
    out.foreach { case (id, scale, err) =>
      // rounding to the nearest int8 level can miss by at most half a level
      // (+ rounding slack from the 6-digit output rounding)
      assert(err <= scale / 2 + 1e-6, s"vec $id: err $err > scale/2 ${scale / 2}")
    }
    val zero = out.find(_._1 == 99L).get
    assert(zero._2 === 0.0 && zero._3 === 0.0)
  }

  test("quantizeInt8Stats: one-pass kernel == interpreted-lambda composition") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 50L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))) :+
      (99L, Seq.fill(16)(0.0f))
    val df = vecDf(rows: _*)
    val a = Similarity.quantizeInt8Stats(df).orderBy("vec_id")
      .collect().map(_.toString).toSeq
    val b = quantizeInt8StatsComposed(df).orderBy("vec_id")
      .collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("sq8_encode: container layout (scale prefix + codes) matches int8 law") {
    import graft.functions.sq8_encode
    val v = Seq(1.0f, -0.5f, 0.25f, 0.0f)
    val bin = vecDf((1L, v)).select(sq8_encode($"embedding"))
      .head().getAs[Array[Byte]](0)
    assert(bin.length === 8 + 4)
    val scale = java.lang.Double.longBitsToDouble(
      java.nio.ByteBuffer.wrap(bin, 0, 8).getLong)
    assert(scale === 1.0 / 127)
    val codes = bin.drop(8).map(_.toInt)
    // clamp(floor(e/scale + 0.5), +-127)
    assert(codes.toSeq === Seq(127, -63, 32, 0))
    // zero vector: scale 0, all-zero codes
    val z = vecDf((2L, Seq(0.0f, 0.0f))).select(sq8_encode($"embedding"))
      .head().getAs[Array[Byte]](0)
    assert(z.forall(_ === 0.toByte))
  }

  test("sq8_cos: asymmetric cosine == cosine against the dequantized vector") {
    import graft.functions.{sq8_cos, sq8_encode}
    val rnd = new scala.util.Random(13)
    val rows = (0L until 30L).map(i =>
      (i, Seq.fill(24)(rnd.nextGaussian().toFloat)))
    val q = Seq.fill(24)(rnd.nextGaussian().toFloat)
    val got = vecDf(rows: _*)
      .select($"vec_id", sq8_cos(lit(q.toArray), sq8_encode($"embedding")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, v) =>
      // dequantized reference: scale cancels, so cosine vs the raw codes
      val maxAbs = v.map(x => math.abs(x.toDouble)).max
      val s = maxAbs / 127.0
      val deq = v.map(x => math.max(-127.0, math.min(127.0,
        math.floor(x / s + 0.5))))
      var dot = 0.0; var nq = 0.0; var nc = 0.0
      q.indices.foreach { i =>
        dot += q(i) * deq(i); nq += q(i).toDouble * q(i); nc += deq(i) * deq(i)
      }
      val want = dot / (math.sqrt(nq) * math.sqrt(nc))
      assert(math.abs(got(id) - want) < 1e-12, s"vec $id")
      // quantization barely moves cosine: within 2% of the exact value
      var edot = 0.0; var env = 0.0
      q.indices.foreach { i =>
        edot += q(i).toDouble * v(i); env += v(i).toDouble * v(i)
      }
      val exact = edot / (math.sqrt(nq) * math.sqrt(env))
      assert(math.abs(got(id) - exact) < 0.02, s"vec $id drifted: ${got(id)} vs $exact")
    }
  }

  test("ivfSq8TopK: recall@1 tracks raw IVF on clustered data") {
    // same clustered-data construction as the annTopK/pqTopK tests: tight
    // clusters around orthogonal axes; each query's true top-1 is its own
    // cluster mate, which SQ8's ~1e-2 per-dim error cannot displace
    val rnd = new scala.util.Random(29)
    val d = 16
    val rows = (0 until 80).map { i =>
      val axis = i % 4
      val base = Array.fill(d)(0.05f * rnd.nextGaussian().toFloat)
      base(axis) = 1.0f + 0.05f * rnd.nextGaussian().toFloat
      (i.toLong, base.toSeq)
    }
    val emb = vecDf(rows: _*)
    val ann = Similarity.indexTopK(emb, col("vec_id") % 10 === 0, k = 1,
      Ivf(nCentroids = 8, nProbe = 4), Sq8Cos)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") % 10 === 0, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = exact.count { case (q, n) => ann.get(q).contains(n) }
    assert(exact.nonEmpty)
    assert(hits.toDouble / exact.size >= 0.75,
      s"recall@1 $hits/${exact.size} below 0.75")
  }
}
