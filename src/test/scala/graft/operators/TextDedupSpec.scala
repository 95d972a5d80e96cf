package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.{simhash64, minhash_sig}
import graft.operators.TextAnalysis.tokens

class TextDedupSpec extends SparkSuite {

  /** The composed stop-count, the twin of
    * [[graft.functions.stop_profile_counts]]. */
  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** The decomposed formulation of [[TextAnalysis.hashedLrQuality]] —
    * explode tokens, broadcast-join a materialized `dim`-row weight table,
    * re-aggregate: the one-pass kernel must compute exactly this shape. */
  private def hashedLrQualityComposed(docs: DataFrame, dim: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    val weights = spark.range(dim).select(
      col("id").cast("long").as("bucket"),
      ((col("id") * 2654435761L) % 1001L - 500L).as("weight"))
    val t = tokens(col("text"))
    val perTok = docs
      .select(col("doc_id"), explode(t).as("tok"))
      .withColumn("bucket", (length(col("tok")) * 31L + ascii(col("tok"))) % dim)
      .join(broadcast(weights), "bucket")
      .groupBy("doc_id").agg(sum("weight").as("score"))
    docs
      .select(col("doc_id"), size(t).as("n_tokens"))
      .join(perTok, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("score"), lit(0L)).as("score"))
      .select(
        col("doc_id"), col("n_tokens"), col("score"),
        when(col("n_tokens") > 0,
          round(col("score").cast("double") / col("n_tokens"), 6))
          .otherwise(0.0).as("score_per_token"),
        (col("score") >= 0).as("keep"))
  }

  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("tokens: lowercase alnum runs; punctuation and unicode stripped") {
    val got = docs((1L, "Hello, WORLD!  x2 -- naïve"))
      .select(tokens($"text")).head().getSeq[String](0)
    assert(got === Seq("hello", "world", "x2", "na", "ve"))
  }

  test("shingles: short docs fall back to whole normalized text") {
    val sh2 = docs((1L, "only two"))
      .select(TextAnalysis.shingles(tokens($"text"), 3)).head().getSeq[String](0)
    assert(sh2 === Seq("only two"))
    val sh4 = docs((1L, "one two three four"))
      .select(TextAnalysis.shingles(tokens($"text"), 3)).head().getSeq[String](0)
    assert(sh4 === Seq("one two three", "two three four"))
  }

  test("containmentPairs: catches the subset dup symmetric Jaccard misses") {
    // doc 1 is quoted WHOLE inside doc 2's wrapper: containment(1->2) = 1
    // but Jaccard is low (2 has many extra shingles). doc 3 is unrelated.
    val quoted = "the quick brown fox jumps over the lazy dog"
    val wrapper = ("intro paragraph one " * 5) + quoted + (" closing remarks here " * 5)
    val d = docs(1L -> quoted, 2L -> wrapper, 3L -> "completely different text corpus")
    val got = Dedup.containmentPairs(d, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1 contained in 2, full containment; no reverse pair, no doc 3
    assert(got.map(t => (t._1, t._2)).toSet === Set((1L, 2L)))
    assert(got(0)._3 === 1.0)
    // and symmetric Jaccard indeed misses it at the same threshold
    assert(Dedup.jaccardPairsExact(d, threshold = 0.8).collect().isEmpty)
  }

  test("contaminationReport: per-eval-doc overlap against TRAIN only, " +
      "hand-computed") {
    val d = docs(
      0L  -> "alpha beta gamma delta",       // eval: {abg, bgd}
      5L  -> "one two three four five",      // eval: {ott, ttf, tff}
      10L -> "qqq www eee rrr",              // eval: zero train overlap
      15L -> "qqq www eee rrr",              // eval dup of 10: eval-side
                                             // overlap must NOT count
      1L  -> "alpha beta gamma zulu",        // train: shares "alpha beta gamma"
      2L  -> "unrelated totally different words here",
      3L  -> "three four five six")          // train: shares "three four five"
    val got = Dedup.contaminationReport(d, shingleN = 3, evalMod = 5,
        threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got.keySet === Set(0L, 5L, 10L, 15L))
    // doc 0: 2 shingles, "alpha beta gamma" hit in train doc 1 -> 1/2,
    // rounded 0.5 >= 0.5 -> contaminated
    assert(got(0L) === ((2L, 1L, 0.5, true)))
    // doc 5: 3 shingles, "three four five" hit in train doc 3 -> 1/3
    assert(got(5L) === ((3L, 1L, 0.333333, false)))
    // docs 10/15 duplicate EACH OTHER but nothing in train: clean
    assert(got(10L) === ((2L, 0L, 0.0, false)))
    assert(got(15L) === ((2L, 0L, 0.0, false)))
  }

  test("charEntropy: closed form matches hand-computed distributions") {
    // "aaaa" -> norm "aaaa": H = 0; "abab" -> uniform over {a,b}: H = ln 2
    // "ab" + junk punctuation -> norm "ab": H = ln 2 over 2 chars
    val got = TextAnalysis.charEntropy(docs(
      1L -> "aaaa", 2L -> "abab", 3L -> "A!b?", 4L -> ""))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chars"), r.getAs[Double]("entropy")))).toMap
    assert(got.keySet === Set(1L, 2L, 3L)) // empty doc has no distribution
    assert(got(1L) === ((4L, 0.0)))
    assert(got(2L)._1 === 4L)
    assert(math.abs(got(2L)._2 - math.log(2.0)) < 1e-6)
    // norm of "A!b?" is "a b": 3 chars, counts {a:1, ' ':1, b:1} -> ln 3
    assert(got(3L)._1 === 3L)
    assert(math.abs(got(3L)._2 - math.log(3.0)) < 1e-6)
    // repeated-char junk scores strictly below mixed text: the signal
    assert(got(1L)._2 < got(2L)._2)
  }

  test("tokenDrift: JS contributions match the closed-form per-token values") {
    // batch A (doc 1): "x x y" -> tot_a=3; batch B (doc 2): "x y y y" ->
    // tot_b=4. Counts: x (2,1), y (1,3).
    val d = docs((1L, "x x y"), (2L, "x y y y"))
    val got = TextAnalysis.tokenDrift(d, col("doc_id") === 1L, topK = 10)
      .collect().map(r => r.getAs[String]("token") ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Double]("js_contrib")))).toMap
    def js(pa: Double, pb: Double): Double = {
      val m = (pa + pb) / 2.0
      val a = if (pa > 0) pa * math.log(pa / m) else 0.0
      val b = if (pb > 0) pb * math.log(pb / m) else 0.0
      BigDecimal(a * 0.5 + b * 0.5).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got("x")._1 === 2L && got("x")._2 === 1L)
    assert(got("y")._1 === 1L && got("y")._2 === 3L)
    assert(got("x")._3 === js(2.0 / 3, 1.0 / 4))
    assert(got("y")._3 === js(1.0 / 3, 3.0 / 4))
    // identical distributions -> zero drift on every token
    val same = TextAnalysis.tokenDrift(docs((1L, "x y"), (2L, "x y")),
      col("doc_id") === 1L, topK = 10)
      .collect().map(_.getAs[Double]("js_contrib"))
    assert(same.forall(_ === 0.0))
  }

  test("exactKeepers: min doc_id survives; normalization folds case/punct") {
    val d = docs(
      (10L, "The quick brown fox"),
      (7L, "the QUICK brown fox!!"),   // same normalized text -> same group
      (3L, "a different document"))
    val got = Dedup.exactKeepers(d).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(7L -> true, 10L -> false, 3L -> true))
  }

  test("bloomNewDocs: exact cross-batch dedup despite bloom false positives") {
    // aggressive p so FPs certainly occur -> proves the exact verify join
    val a = docs((1 to 200).map(i => (i.toLong, s"batch a doc number $i")): _*)
    val dupTexts = (1 to 50).map(i => (1000L + i, s"batch a doc number $i"))
    val fresh = (1 to 150).map(i => (2000L + i, s"completely new doc $i"))
    val b = docs(dupTexts ++ fresh: _*)
    val got = Dedup.bloomNewDocs(a, b, p = 0.5).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.size === 200)
    dupTexts.foreach { case (id, _) => assert(!got(id), s"doc $id must be dup") }
    fresh.foreach { case (id, _) => assert(got(id), s"doc $id must be new") }
  }

  private val baseWords =
    (1 to 60).map(i => s"w$i")

  test("minhashLshPairs finds exactly the all-pairs Jaccard matches") {
    // 3 near-dup pairs (small edits on 60-token docs) + unrelated docs
    val d = docs(
      (1L, baseWords.mkString(" ")),
      (2L, (baseWords.take(58) :+ "changed").mkString(" ")),       // ~0.95 sim
      (3L, baseWords.map(w => s"x$w").mkString(" ")),
      (4L, (baseWords.map(w => s"x$w").take(59) :+ "y").mkString(" ")),
      (5L, (1 to 60).map(i => s"z$i").mkString(" ")),
      (6L, "tiny doc"))
    val got = Dedup.minhashLshPairs(d, threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

    // brute-force truth from the same shingle sets
    val sets = Dedup.shingleSets(d, 3)
    val truth = sets.toDF("a", "sa").crossJoin(sets.toDF("b", "sb"))
      .where($"a" < $"b")
      .withColumn("j", size(array_intersect($"sa", $"sb")).cast("double")
        / size(array_union($"sa", $"sb")))
      .where($"j" >= 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet

    assert(truth.nonEmpty, "test must plant at least one near-dup pair")
    assert(got === truth)
  }

  test("keepBest: the cluster keeps its highest-quality member, NOT " +
      "the minimum id; singletons keep themselves") {
    // docs 1 and 2 are near-dups; doc 2 ends with distinct tokens and
    // stop-words so its quality score strictly exceeds doc 1's (doc 1
    // repeats one word: low distinct_ratio) — min-id keeping would
    // pick 1, the quality policy must pick 2
    val dup = baseWords.take(57)
    val d = docs(
      (1L, (dup ++ Seq("pad", "pad", "pad")).mkString(" ")),
      (2L, (dup ++ Seq("the", "fresh", "words")).mkString(" ")),
      (5L, (1 to 60).map(i => s"z$i").mkString(" ")))
    val r = Dedup.keepBest(d, threshold = 0.8)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(1L)._2 === 1L && r(2L)._2 === 1L, "1-2 must cluster (rep 1)")
    assert(r(2L)._3 > r(1L)._3, "fixture must make doc 2 the better one")
    assert(r(2L)._4 === true, "the higher-quality member survives")
    assert(r(1L)._4 === false, "min-id keeping would have kept doc 1")
    assert(r(5L)._4 === true && r(5L)._2 === 5L, "singleton keeps itself")
  }

  test("corpusPrep: quality gate, keep-best dedup, decontamination and " +
      "packing compose end to end") {
    // one planted drop per stage: doc 7 fails the quality gate; doc 1
    // loses the near-dup argmax to doc 2 (keepBest's fixture); doc 9
    // shares the benchmark 5-gram b1..b5; docs 5/11 are clean singletons
    val dup = baseWords.take(57)
    val d = docs(
      (1L, (dup ++ Seq("pad", "pad", "pad")).mkString(" ")),
      (2L, (dup ++ Seq("the", "fresh", "words")).mkString(" ")),
      (5L, (1 to 60).map(i => s"z$i").mkString(" ")),
      (7L, "spam spam spam"),
      (9L, ((1 to 27).map(i => s"y$i") ++ Seq("b1", "b2", "b3", "b4", "b5")
        ++ (28 to 55).map(i => s"y$i")).mkString(" ")),
      (11L, (1 to 60).map(i => s"u$i").mkString(" ")))
    val bench = docs((100L, "b1 b2 b3 b4 b5"))
    val r = Dedup.corpusPrep(d, bench, budget = 64)
      .orderBy("doc_id")
      .as[(Long, Double, Long, Long, Long)].collect()
    assert(r.map(_._1).toSeq === Seq(2L, 5L, 11L),
      s"stage drops: 7 (quality), 1 (keep-best), 9 (contamination): ${r.toSeq}")
    assert(r.forall(_._3 === 60L), s"all survivors are 60-token docs: ${r.toSeq}")
    // pack layout over survivors in doc_id order at budget 64: doc 2 at
    // (0, 0); doc 5 at cum 60 -> (0, 60), straddling the boundary;
    // doc 11 at cum 120 -> (1, 56)
    assert(r.map(x => (x._4, x._5)).toSeq === Seq((0L, 0L), (0L, 60L), (1L, 56L)))
    spark.catalog.clearCache()
  }

  test("corpusPrep: a fully-contaminated corpus drains to zero rows " +
      "without failing any stage") {
    // every doc shares its whole text with the benchmark -> the
    // decontamination stage must empty the set and the pack window must
    // tolerate an empty input (an all-rejected intake is a real state)
    val d = docs(
      (2L, (1 to 60).map(i => s"k$i").mkString(" ")),
      (5L, (70 to 130).map(i => s"k$i").mkString(" ")))
    val r = Dedup.corpusPrep(d, d, budget = 64).collect()
    assert(r.isEmpty, s"expected an empty cleaned corpus: ${r.toSeq}")
    spark.catalog.clearCache()
  }

  test("lshTune: S-curve endpoints, independent-formula parity, and the " +
      "0.8-vs-0.4 argmax at 16 bands x 8 rows") {
    val r = Dedup.lshTune(spark)
      .as[(Long, Long, Double, Double, Double, Boolean)].collect()
      .map(x => x._1 -> x).toMap
    assert(r.keySet === Set(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L))
    assert(r(1L)._3 === 1.0 && r(1L)._4 === 1.0,
      "rows=1 collides everything at both similarities")
    assert(r(128L)._3 === 0.0 && r(128L)._4 === 0.0,
      "rows=128 collides nothing")
    // independent plain-Scala evaluation of one interior cell
    def curve(s: Double, rows: Int, bands: Int) =
      BigDecimal(1.0 - math.pow(1.0 - math.pow(s, rows), bands))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(8L)._3 === curve(0.8, 8, 16))
    assert(r(8L)._4 === curve(0.4, 8, 16))
    assert(r(8L)._6 === true, "16x8 maximizes 0.8-vs-0.4 separation")
    assert(r.values.count(_._6) === 1)
    spark.catalog.clearCache()
  }

  test("lshBandingFor: the tuner argmax is WIRED — recall-first below " +
      "the cutover, utility argmax at/above it (VERDICT r14 ask #1)") {
    // below the cutover: the recall-constrained argmax is the historical
    // 32x4 (miss 4.7e-8 at s=0.8); at/above: lshTune's own chosen row
    assert(Dedup.lshBandingFor(500L) === ((32, 4)))
    assert(Dedup.lshBandingFor(Dedup.lshScaleCutover - 1) === ((32, 4)))
    assert(Dedup.lshBandingFor(Dedup.lshScaleCutover) === ((16, 8)))
    assert(Dedup.lshBandingFor(1000000L) === ((16, 8)))
    // the large-N leg IS the tuner's chosen row, by construction
    val chosen = Dedup.lshTune(spark)
      .where($"chosen").select("bands", "rows")
      .as[(Long, Long)].head()
    assert(Dedup.lshBandingFor(1000000L) ===
      ((chosen._1.toInt, chosen._2.toInt)))
    spark.catalog.clearCache()
  }

  test("minhashLshPairs at the scale operating point (16x8 pinned): " +
      "output is a subset of the exact pairs with the planted strong " +
      "near-dups retained") {
    // the scale banding trades sub-threshold chance collisions for a
    // bounded miss rate AT the threshold; on planted pairs well above
    // 0.8 (s≈0.95: miss ~1e-7) the output must still be exact
    val d = docs(
      (1L, baseWords.mkString(" ")),
      (2L, (baseWords.take(58) :+ "changed").mkString(" ")),
      (3L, baseWords.map(w => s"x$w").mkString(" ")),
      (4L, (baseWords.map(w => s"x$w").take(59) :+ "y").mkString(" ")),
      (5L, (1 to 60).map(i => s"z$i").mkString(" ")))
    val got = Dedup.minhashLshPairs(d, threshold = 0.8, bands = 16)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sets = Dedup.shingleSets(d, 3)
    val truth = sets.toDF("a", "sa").crossJoin(sets.toDF("b", "sb"))
      .where($"a" < $"b")
      .withColumn("j", size(array_intersect($"sa", $"sb")).cast("double")
        / size(array_union($"sa", $"sb")))
      .where($"j" >= 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(truth), "LSH at any banding never invents a pair")
    assert(got === truth, "the planted strong pairs survive 16x8")
    spark.catalog.clearCache()
  }

  test("bucket expansion: a bucket over the cap yields no pairs") {
    val text = "the same near duplicate text in every one of three docs"
    val buckets = Dedup.bandRows(Dedup.shingleSets(
      docs((1L, text), (2L, text), (3L, text)), 3), "doc_id", 128, 32, 4)
    def expand(cap: Int) = Dedup.bucketPairs(buckets, col("doc_id"), cap)(
        (a, b) => Seq(a.as("doc_a"), b.as("doc_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every band of the three identical signatures is one 3-member bucket
    assert(expand(2).isEmpty)
    assert(expand(3) === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhashLshPairs: jaccard values are exact int ratios") {
    val d = docs(
      (1L, baseWords.mkString(" ")),
      (2L, (baseWords.take(58) :+ "changed").mkString(" ")))
    val rows = Dedup.minhashLshPairs(d, threshold = 0.5).collect()
    assert(rows.length === 1)
    val j = rows.head.getAs[Double]("jaccard")
    // doc1: 58 shingles (60 tokens), doc2: 57 (59 tokens); the 56 shingles
    // inside w1..w58 are shared -> union 59
    assert(j === 56.0 / 59.0)
  }

  test("simhash: identical token streams collide; near docs are close") {
    val d = docs(
      (1L, baseWords.mkString(" ")),
      (2L, baseWords.mkString(" ") + "."),          // same tokens
      (3L, (baseWords.take(57) ++ Seq("a", "b", "c")).mkString(" ")),
      (4L, (1 to 60).map(i => s"q$i").mkString(" ")))
    val sigs = d.select($"doc_id", simhash64(tokens($"text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) <= 16, "5% token edit must stay close")
    assert(ham(sigs(1L), sigs(4L)) > 16, "unrelated docs must be far")

    val pairs = Dedup.simhashPairs(d, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash_sig: min-fold over seeded murmur, deterministic") {
    val sig1 = docs((1L, baseWords.mkString(" ")))
      .select(minhash_sig(TextAnalysis.shingles(tokens($"text"), 3), 16))
      .head().getSeq[Int](0)
    val sig2 = docs((1L, baseWords.mkString(" ")))
      .select(minhash_sig(TextAnalysis.shingles(tokens($"text"), 3), 16))
      .head().getSeq[Int](0)
    assert(sig1 === sig2)
    assert(sig1.length === 16)
    // cross-check one lane against the core hash
    val shingles = (1 to 58).map(i => s"w$i w${i + 1} w${i + 2}")
    val expected0 = shingles.map(s => graft.core.Murmur3.hashString(s, 0)).min
    assert(sig1.head === expected0)
  }

  test("jaccardPairsExact equals all-pairs truth at a threshold LSH can miss") {
    // mixed sizes + a mid-similarity pair (θ=0.5) that banded LSH is not
    // guaranteed to surface; the prefix-filter join must be EXACT
    val d = docs(
      (1L, baseWords.mkString(" ")),
      (2L, (baseWords.take(58) :+ "changed").mkString(" ")),      // ~0.95
      (3L, (baseWords.take(40) ++ (1 to 20).map(i => s"m$i")).mkString(" ")), // ~0.5
      (4L, baseWords.map(w => s"x$w").mkString(" ")),
      (5L, (1 to 30).map(i => s"z$i").mkString(" ")),             // shorter doc
      (6L, ((1 to 30).map(i => s"z$i") ++ Seq("tail")).mkString(" ")),
      (7L, "tiny doc"))
    for (threshold <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.jaccardPairsExact(d, threshold)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val sets = Dedup.shingleSets(d, 3)
      val truth = sets.toDF("a", "sa").crossJoin(sets.toDF("b", "sb"))
        .where($"a" < $"b")
        .withColumn("j", size(array_intersect($"sa", $"sb")).cast("double")
          / size(array_union($"sa", $"sb")))
        .where($"j" >= threshold)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(got === truth, s"threshold $threshold")
    }
  }

  test("jaccardPairsExact == all-pairs truth on randomized hot-shingle corpora") {
    // tiny vocab forces hot shingles (the regime where prefix+positional
    // filtering actually prunes); randomized doc lengths exercise the
    // length-filter boundary arithmetic
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    for (trial <- 1 to 3) {
      val d = docs((1 to 25).map { i =>
        val len = 3 + rnd.nextInt(20)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }: _*)
      for (threshold <- Seq(0.4, 0.7)) {
        val got = Dedup.jaccardPairsExact(d, threshold)
          .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
        val sets = Dedup.shingleSets(d, 3)
        val truth = sets.toDF("a", "sa").crossJoin(sets.toDF("b", "sb"))
          .where($"a" < $"b")
          .withColumn("j", size(array_intersect($"sa", $"sb")).cast("double")
            / size(array_union($"sa", $"sb")))
          .where($"j" >= threshold)
          .select("a", "b").as[(Long, Long)].collect().toSet
        assert(got === truth, s"trial $trial threshold $threshold")
      }
    }
  }

  test("jaccardPairsExact: exact dups found even at threshold 1.0") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "ALPHA beta, gamma delta epsilon!"),  // same normalized tokens
      (3L, "something else entirely here now"))
    val got = Dedup.jaccardPairsExact(d, 1.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 2L, 1.0)))
  }

  test("simhashExactDupCheck: counts exact-dup pairs, misses none") {
    val d = docs(
      (1L, baseWords.mkString(" ")),
      (2L, baseWords.mkString(" ") + "."),   // dup of 1 (same tokens)
      (3L, baseWords.mkString(" ") + ", "),  // dup of 1 and 2
      (4L, (1 to 60).map(i => s"q$i").mkString(" ")),
      (5L, ""))                              // tokenless: excluded
    val row = Dedup.simhashExactDupCheck(d).head()
    assert(row.getAs[Long]("n_exact_pairs") === 3L) // (1,2) (1,3) (2,3)
    assert(row.getAs[Long]("n_missed") === 0L)
  }

  test("shingleStats: totals and distincts; short docs collapse to one") {
    val d = docs(
      (1L, "one two three four"),   // 4 tokens -> 2 shingles
      (2L, "a b"),                  // short -> 1 whole-text shingle
      (3L, "w w w w w"),            // 5 tokens, 3 identical shingles
      (4L, "..."))                  // no tokens -> excluded
    val got = TextAnalysis.shingleStats(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(got === Map(
      1L -> ((4, 2, 2)),
      2L -> ((2, 1, 1)),
      3L -> ((5, 3, 1))))
  }

  test("tokenCounts: BPE pre-tokens split contractions, attach leading spaces") {
    val d = docs((1L, "It's 42 cats, isn't it?!"))
    val toks = d.select(regexp_extract_all(lower($"text"),
      lit(TextAnalysis.bpePattern), lit(0))).head().getSeq[String](0)
    assert(toks === Seq("it", "'s", " 42", " cats", ",", " isn", "'t", " it", "?!"))
    val row = TextAnalysis.tokenCounts(d).head()
    assert(row.getAs[Int]("n_ws_tokens") === 5)
    assert(row.getAs[Int]("n_bpe_tokens") === 9)
    assert(row.getAs[Int]("n_bpe_distinct") === 9)
  }

  test("nearDupClusters: transitive chain collapses to one component") {
    // 1~2, 2~3 near-dup (J >= 0.8) but 1~3 only via transitivity; 8~9 a
    // separate component; 5 unrelated (appears in no cluster)
    val chain0 = baseWords
    val chain1 = baseWords.take(59) :+ "edit1"
    val chain2 = baseWords.take(58) ++ Seq("edit1", "edit2")
    val d = docs(
      (1L, chain0.mkString(" ")),
      (2L, chain1.mkString(" ")),
      (3L, chain2.mkString(" ")),
      (5L, (1 to 60).map(i => s"z$i").mkString(" ")),
      (8L, (1 to 60).map(i => s"y$i").mkString(" ")),
      (9L, ((1 to 59).map(i => s"y$i") :+ "tail").mkString(" ")))
    val got = Dedup.nearDupClusters(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("nearDupClusters cache lifecycle: only the final label round stays " +
      "resident") {
    // the pair and edge preps and every superseded round are released
    // before return; at most the returned labels' own cache may remain,
    // and clearCache returns to the baseline
    def resident: Int = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    val base = resident
    val chain = baseWords.take(59) :+ "edit1"
    val d = docs(
      (1L, baseWords.mkString(" ")),
      (2L, chain.mkString(" ")),
      (3L, (baseWords.take(58) ++ Seq("edit1", "edit2")).mkString(" ")))
    assert(Dedup.nearDupClusters(d).collect().length === 3)
    assert(resident <= base + 1,
      s"nearDupClusters left ${resident - base} resident caches (max 1)")
    spark.catalog.clearCache()
    assert(resident === base, "nearDupClusters residue survived clearCache")
  }

  test("packSequences: running-total bins with correct offsets") {
    val d = docs(
      (1L, "a b c"),        // 3 tokens, cum 3  -> seq 0 offset 0
      (2L, "d e f g"),      // 4 tokens, cum 7  -> seq 0 offset 3
      (3L, "h i"),          // 2 tokens, cum 9  -> seq 0 offset 7
      (4L, "j k l m n"),    // 5 tokens, cum 14 -> seq 1 offset 1
      (5L, ""))             // 0 tokens, cum 14 -> seq 1 offset 6
    val got = TextAnalysis.packSequences(d, budget = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      1L -> ((3L, 0L, 0L)),
      2L -> ((4L, 0L, 3L)),
      3L -> ((2L, 0L, 7L)),
      4L -> ((5L, 1L, 1L)),
      5L -> ((0L, 1L, 6L))))
  }

  test("chunkDocuments: window starts, overlap, and edge chunk counts") {
    val d = docs(
      (1L, (1 to 5).map(i => s"w$i").mkString(" ")),  // fits -> 1 chunk
      (2L, (1 to 8).map(i => s"v$i").mkString(" ")),  // 8 = size -> 1 chunk
      (3L, (1 to 9).map(i => s"u$i").mkString(" ")),  // 9 -> 2 chunks
      (4L, (1 to 20).map(i => s"t$i").mkString(" ")), // -> 3 chunks
      (5L, ""))                                       // empty -> no chunks
    val got = TextAnalysis.chunkDocuments(d, chunkSize = 8, overlap = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3))))
      .toMap
    assert(got.keySet === Set(
      (1L, 0L), (2L, 0L), (3L, 0L), (3L, 1L),
      (4L, 0L), (4L, 1L), (4L, 2L)))
    // overlap: chunk 1 starts at token 7 (step 6), sharing 2 tokens
    assert(got((3L, 1L)) === ((3L, "u7 u8 u9")))
    // interior chunk is full-width; tail chunk is the remainder
    assert(got((4L, 1L)) === ((8L, (7 to 14).map(i => s"t$i").mkString(" "))))
    assert(got((4L, 2L)) === ((8L, (13 to 20).map(i => s"t$i").mkString(" "))))
    assert(got((1L, 0L))._1 === 5L)
  }

  test("piiScrub: counts and redacts emails, phones, IPs") {
    val d = docs((1L, "mail a.b@x.co or call +1-555-123-4567 from 10.0.0.1 twice 10.0.0.2"))
    val r = TextAnalysis.piiScrub(d).head()
    assert(r.getAs[Int]("n_email") === 1)
    assert(r.getAs[Int]("n_phone") === 1)
    assert(r.getAs[Int]("n_ipv4") === 2)
    // exact redaction arithmetic: each match becomes the 5-char [PII]
    // token — email 8->5, phone 15->5, two IPs 8->5 each
    val orig = "mail a.b@x.co or call +1-555-123-4567 from 10.0.0.1 twice 10.0.0.2"
    assert(r.getAs[Int]("redacted_len") ===
      orig.length - (8 - 5) - (15 - 5) - 2 * (8 - 5))
  }

  test("readability: hand-computed Flesch on exact counting rules") {
    val r = TextAnalysis.readability(docs(
      (1L, "The cat sat. The dog ran!"),
      (2L, "aaa bbb")))
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4)))).toMap
    // doc 1: 6 words, 2 sentence runs, 6 vowel runs ->
    // 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert(r(1L) === ((6L, 2L, 6L, 119.19)))
    // doc 2: no terminator -> sentences floored at 1; syllables: "aaa"
    // is one vowel run, "bbb" has none -> 206.835 - 2.03 - 42.3
    assert(r(2L) === ((2L, 1L, 1L, 162.505)))
  }

  test("codeDetect: symbol and indent densities flag code, spare prose") {
    val code = "def f(x):\n  return x;\n  y = [1];"
    val r = TextAnalysis.codeDetect(docs(
      (1L, code), (2L, "just a plain sentence")))
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4),
          x.getDouble(5), x.getBoolean(6)))).toMap
    // 3 lines, 2 indented continuations, 7 symbols over 32 chars
    assert(r(1L) === ((3L, 2L, 7L, 0.21875, 0.666667, true)))
    assert(r(2L) === ((1L, 0L, 0L, 0.0, 0.0, false)))
  }

  test("contamination: flags docs sharing a 5-gram with the benchmark") {
    val leak = (1 to 10).map(i => s"b$i").mkString(" ")
    val d = docs(
      (1L, leak),                                    // the benchmark doc
      (2L, s"prefix words here $leak and a tail"),   // contains the 5-gram
      (3L, (1 to 20).map(i => s"c$i").mkString(" ")))
    val got = TextAnalysis.contamination(d, d.where($"doc_id" === 1), n = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(1L -> true, 2L -> true, 3L -> false))
  }

  test("editDistancePairs: banded blocking is lossless, incl. cross-bucket pairs") {
    // band=8: len 15 sits in buckets {1,2}, len 17 in {2,3} — the pair
    // meets only through the shared boundary bucket, which is exactly the
    // losslessness claim (band >= lenWindow) the blocking must honor
    val d = Seq(
      (1L, "aaaaaaaaaaaaaaa", "en"),                // len 15
      (2L, "aaaaaaaaaaaaaaaxx", "en"),              // len 17: dist 2 to #1
      (3L, "bbbbbbbbbbbbbbb", "en"),                // len 15: dist 15 > max
      (4L, "aaaaaaaaaaaaaaa", "fr"),                // other lang: excluded
      (5L, "aaaaaaaaaaaaaaazzzzzzzzzzzz", "en"))    // len 27: window miss
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Dedup.editDistancePairs(d, lenWindow = 8, maxDist = 10,
      prefixLen = 40, band = 8)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === Seq((1L, 2L, 2)))
  }

  test("editDistancePairs: the density fence drops exactly the pairs " +
      "whose MEETING block is over the cap, and the report prices the " +
      "dropped mass (r16, VERDICT r15 ask #3)") {
    // band=8. Five len-15 docs (buckets {1,2}) plus a len-16/len-17 near
    // pair (buckets {2,3}): membership (en,1)=5, (en,2)=7, (en,3)=2.
    // maxBucket=5 fences block (en,2) ONLY — every pair MEETING there
    // (the ten 15x{16,17} cross pairs and (10,11)) drops, while the ten
    // len-15 pairs meet at the open block (en,1) and survive, proving
    // the fence cuts by meeting bucket, not by mere co-membership.
    val five = (1 to 5).map(i =>
      (i.toLong, "aaaaaaaaaaaaaa" + ("bcdef" (i - 1)), "en")) // len 15
    val pairDocs = Seq(
      (10L, "aaaaaaaaaaaaaaax", "en"),   // len 16
      (11L, "aaaaaaaaaaaaaaaxy", "en"))  // len 17: dist 1 to #10
    val d = (five ++ pairDocs)
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
    // unfenced baseline: 10 len-15 pairs (meet at bucket 1) + 10 cross
    // pairs len-15 x {16,17} + the (10,11) pair (all meet at bucket 2)
    val open = Dedup.editDistancePairs(d, lenWindow = 8, maxDist = 10,
      prefixLen = 40, band = 8, maxBucket = 1024).collect()
    assert(open.length === 21)
    // membership: bucket 1 = 5 (len-15s), bucket 2 = 5 + 2 = 7, bucket 3
    // = 2 -> maxBucket=5 fences bucket 2 ONLY: the (10,11) pair (meeting
    // bucket 2) drops; the len-15 pairs meet at bucket 1 and survive
    val fenced = Dedup.editDistancePairs(d, lenWindow = 8, maxDist = 10,
      prefixLen = 40, band = 8, maxBucket = 5)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(fenced.length === 10 && !fenced.contains((10L, 11L)))
    val rep = Dedup.editDistanceFenceReport(d, band = 8, maxBucket = 5)
      .collect().head
    // blocks: (en,1)=5, (en,2)=7, (en,3)=2 -> one fenced block with 7
    // members pricing 7*6/2 = 21 dropped candidate pairs
    assert(rep.getLong(rep.fieldIndex("n_blocks")) === 3)
    assert(rep.getLong(rep.fieldIndex("n_fenced")) === 1)
    assert(rep.getLong(rep.fieldIndex("max_members")) === 7)
    assert(rep.getLong(rep.fieldIndex("fenced_members")) === 7)
    assert(rep.getLong(rep.fieldIndex("dropped_pair_bound")) === 21)
  }

  test("dupSpanRate: cross-doc gram duplication, short-doc whole-text rule") {
    // n=2 grams. doc 1 "a b c": grams {a b, b c}; doc 2 "a b x": {a b, b x};
    // doc 3 "q": whole-text gram {q}; doc 4 "q": {q}. Shared: "a b" (1,2)
    // and "q" (3,4). Rates: 1: 1/2, 2: 1/2, 3: 1/1, 4: 1/1.
    val d = docs((1L, "a b c"), (2L, "a b x"), (3L, "q"), (4L, "q"))
    val got = Dedup.dupSpanRate(d, n = 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 1L, 1L, 1.0), (4L, 1L, 1L, 1.0)))
  }

  test("dupSpanRate: an all-unique corpus rates zero everywhere (the " +
      "hash-keyed form's empty-sliver path, r15)") {
    val d = docs((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "eta theta iota"))
    val got = Dedup.dupSpanRate(d, n = 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 0L, 0.0), (2L, 0L, 0.0), (3L, 0L, 0.0)))
    spark.catalog.clearCache()
  }

  test("sortedNeighborhoodMultipass: the reversed-key pass catches suffix twins") {
    // docs 1/2 differ only in their FIRST character: far apart in the
    // prefix sort (blocks "ax" vs "bx"), adjacent in the reversed-key
    // sort. Docs 3/4 differ in their last char: pass-1 pairs. The
    // multipass must surface both; single-pass only (3,4).
    val d = Seq(
      (1L, "axxxxxxxxq", "en"), (2L, "bxxxxxxxxq", "en"),
      (3L, "cyyyyyyyyd", "en"), (4L, "cyyyyyyyye", "en"))
      .toDF("doc_id", "text", "lang")
    val single = Dedup.sortedNeighborhoodPairs(d, w = 4, keyLen = 40,
      blockLen = 2, maxDist = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single === Set((3L, 4L)))
    val multi = Dedup.sortedNeighborhoodMultipass(d, w = 4, keyLen = 40,
      blockLen = 2, maxDist = 10).orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(multi.toSeq === Seq((1L, 2L, 1), (3L, 4L, 1)))
  }

  test("unigramLmScore: cross-entropy matches the closed-form unigram LM") {
    // corpus: doc 1 "x x y", doc 2 "x z". N=5; p(x)=3/5, p(y)=1/5, p(z)=1/5
    // doc1 xent = -(2 ln(3/5) + 1 ln(1/5)) / 3
    // doc2 xent = -(ln(3/5) + ln(1/5)) / 2; doc 3 untokenizable -> omitted
    val d = docs((1L, "x x y"), (2L, "x z"), (3L, "!!!"))
    val got = TextAnalysis.unigramLmScore(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (px, py) = (3.0 / 5, 1.0 / 5)
    assert(got.toSeq === Seq(
      (1L, 3L, r6(-(2 * math.log(px) + math.log(py)) / 3)),
      (2L, 2L, r6(-(math.log(px) + math.log(py)) / 2))))
  }

  test("perplexityFilter: tail dropped at mu+kσ; single-doc language is head") {
    // lang en: docs 1,2 repeat the common token (low xent), doc 3 carries
    // the rare token (high xent). μ ± 0.5σ puts 1,2 in head and 3 in tail.
    // lang fr: one doc → σ = 0 → head by the arm order.
    val d = Seq(
      (1L, "a a a", "en"), (2L, "a a a", "en"), (3L, "a q", "en"),
      (4L, "b b", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.perplexityFilter(d, k = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[String]("bucket"), r.getAs[Boolean]("kept")))).toMap
    assert(got(1L) === (("head", true)) && got(2L) === (("head", true)))
    assert(got(3L) === (("tail", false)))
    assert(got(4L) === (("head", true)))
  }

  test("leakageSafeSplit: near-dup clusters land wholly on one side") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again today!"),
      (3L, "an entirely unrelated treatise on distributed query engines"),
      (4L, "yet another unrelated piece about bloom filter mathematics"))
    val got = Dedup.leakageSafeSplit(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // 1 and 2 are near-dups → one cluster (rep = min id) → one split
    assert(got(1L)._1 === 1L && got(2L)._1 === 1L)
    assert(got(1L)._2 === got(2L)._2)
    // singletons are their own cluster
    assert(got(3L)._1 === 3L && got(4L)._1 === 4L)
    assert(got.values.map(_._2).forall(Set("train", "test")))
  }

  test("aucFromScores: tie-averaged Mann-Whitney on a known histogram") {
    // scores [3,2,2,1], labels [1,1,0,0]: pos-neg pairs (3,2)=1 (3,1)=1
    // (2,2)=0.5 (2,1)=1 → AUC = 3.5/4 = 0.875
    val scored = Seq((1, 3L), (1, 2L), (0, 2L), (0, 1L)).toDF("y", "s")
    val r = TextAnalysis.aucFromScores(scored).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 2L, 3L)))
    assert(r.getDouble(3) === 0.875)
  }

  test("aucOfHashedLr: label derived from the score itself gives AUC 1") {
    // label = (score >= 0): every positive strictly outranks every
    // negative (a tie bucket cannot mix classes), so AUC is exactly 1.0
    val d = docs((1L, "good stuff here"), (2L, "awful terrible junk"),
      (3L, "mixed bag of words"), (4L, "zebra quartz axiom"))
    val withScore = TextAnalysis.hashedLrQuality(d).select("doc_id", "score")
    val lbls = withScore.collect().map(r => r.getLong(0) -> (r.getLong(1) >= 0)).toMap
    assume(lbls.values.toSet.size == 2) // both classes present
    val joined = d.join(withScore, "doc_id")
    val r = TextAnalysis.aucFromScores(joined.select(
      (col("score") >= 0).cast("int").as("y"), col("score").as("s"))).head
    assert(r.getDouble(3) === 1.0)
  }

  test("sortedNeighborhoodPairs: window pairs in sort order, lang-partitioned") {
    // sort order in block (en, "aa"): aaaa(1) aaab(2) aaac(3) aaad(4)
    // aaae(5) aazz…(8). w=4 → each doc meets 3 predecessors: (1,5) is out
    // of window; doc 8 meets 3,4,5 but every distance exceeds maxDist;
    // doc 6 sits alone in block "zz", doc 7 alone in lang fr.
    val d = Seq(
      (1L, "aaaa", "en"), (2L, "aaab", "en"), (3L, "aaac", "en"),
      (4L, "aaad", "en"), (5L, "aaae", "en"), (6L, "zzzz", "en"),
      (7L, "aaae", "fr"), (8L, "aazzzzzzzzzzzzzzzz", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Dedup.sortedNeighborhoodPairs(d, w = 4, keyLen = 40,
      blockLen = 2, maxDist = 10)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === Seq(
      (1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1), (2L, 3L, 1), (2L, 4L, 1),
      (2L, 5L, 1), (3L, 4L, 1), (3L, 5L, 1), (4L, 5L, 1)))
  }

  test("bigram_stats kernel == explode+aggregate formulation, doc for doc") {
    import org.apache.spark.sql.functions._
    val d = docs(
      (1L, "a b a b a b"),            // top bigram "a b" x3, 5 bigrams
      (2L, "one two three four"),     // all distinct: top 1, total 3
      (3L, "x x x x"),                // "x x" x3 of 3
      (4L, "The the THE tHe"))        // case-folds to one repeated token
    val t = TextAnalysis.tokens(col("text"))
    val kernel = d.where(size(t) >= 2)
      .select(col("doc_id"), graft.functions.bigram_stats(t).as("bs"))
      .select(col("doc_id"), element_at(col("bs"), 1), element_at(col("bs"), 2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bg = transform(sequence(lit(1), size(t) - 1),
      i => concat_ws(" ", element_at(t, i), element_at(t, i + 1)))
    val exploded = d.where(size(t) >= 2)
      .select(col("doc_id"), explode(bg).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max("n"), sum("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(kernel === exploded)
    assert(kernel === Set((1L, 3L, 5L), (2L, 1L, 3L), (3L, 3L, 3L), (4L, 3L, 3L)))
  }

  test("pretrainCorpus: each composed stage drops exactly its targets") {
    // survivors must clear quality >= 0.3, known language, no benchmark
    // 5-gram, and be the min doc_id of their normalized-text group
    val goodText = "the quick brown fox jumps over the lazy dog and the cat"
    val d = docs(
      (1L, goodText),                                     // keeper
      (2L, goodText + "!!"),                              // exact dup of 1 -> dropped
      (3L, "the benchmark sentence which should be held out of training data"),
      (4L, "xq zz"),                                      // no stopwords -> 'und'
      (5L, "the house and the dog sat near the tree with a very old friend"))
    val bench = d.where(col("doc_id") === 3)
    val got = Dedup.pretrainCorpus(d, bench, minQuality = 0.3)
      .select("doc_id").as[Long].collect().toSet
    // 3 is contaminated (it IS the benchmark), 4 is 'und', 2 is a dup
    assert(got === Set(1L, 5L))
    val row = Dedup.pretrainCorpus(d, bench, minQuality = 0.3)
      .where(col("doc_id") === 1).head()
    assert(row.getAs[String]("lang_pred") === "en")
    assert(row.getAs[Double]("quality") >= 0.3)
    assert(row.getAs[Int]("n_tokens") === 12)
  }

  test("passageDedup: first global occurrence survives, later copies drop") {
    val d = docs(
      (1L, "a b c d"),     // "a b", "c d" — both first
      (2L, "a b x y"),     // "a b" dups doc 1 pos 0; "x y" first
      (3L, "c d c d"),     // both passages dup doc 1's "c d"
      (4L, "p q r"))       // odd length: "p q", "r"
    val got = Dedup.passageDedup(d, w = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L, 2L), (2L, 2L, 1L), (3L, 2L, 0L), (4L, 2L, 2L)))
  }

  test("hashedLrQuality: one-pass kernel equals the explode+weight-join form") {
    val d = docs(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, ""),                       // no tokens -> score 0, keep
      (3L, "a a a a"),                // bucket 0 weight -500 each
      (4L, "Mixed CASE, punct!! and 42 numbers"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toString).toSeq
    assert(rows(TextAnalysis.hashedLrQuality(d)) ===
      rows(hashedLrQualityComposed(d)))
    val byId = TextAnalysis.hashedLrQuality(d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // hand-checked: bucket("the") = (3*31+116) % 64 = 17,
    // weight = (17*2654435761) % 1001 - 500 = 110; "a" -> bucket 0 -> -500
    assert(byId(3L) === -2000L)
    assert(byId(2L) === 0L)
    val theOnly = docs((9L, "The the THE"))
    assert(TextAnalysis.hashedLrQuality(theOnly).head().getLong(2) === 330L)
  }

  test("nearDupClusters: a long near-dup chain folds into one cluster") {
    // 12 docs as sliding 36-token windows shifted by 3: adjacent windows
    // share 31/37 shingles (J = 0.838 >= 0.8), skip-one only 0.7 — so the
    // near-dup graph is a pure CHAIN of diameter 11, the worst case for
    // plain min-label propagation (the pointer-jumping round composition
    // must still converge, and to a single component)
    val words = (0 until 80).map(i => f"w$i%03d")
    val d = docs((0 until 12).map { i =>
      (i.toLong + 1, words.slice(i * 3, i * 3 + 36).mkString(" "))
    }: _*)
    val got = Dedup.nearDupClusters(d, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 12)
    assert(got.map(_._2).toSet === Set(1L), s"one cluster rooted at doc 1: ${got.toSeq}")
  }

  test("stop_profile_counts kernel == per-profile filter composition") {
    val d = docs(
      (1L, "the cat and the dog of the house"),
      (2L, "der Hund und die Katze ist nicht hier"),
      (3L, "le chat est dans la maison que une"),
      (4L, "el perro y los gatos en una casa"),
      (5L, ""),
      (6L, "naïve Café DE la THE den"))
    val profiles = Seq(TextAnalysis.stopEn, TextAnalysis.stopDe,
      TextAnalysis.stopFr, TextAnalysis.stopEs)
    val kernel = d.select(col("doc_id"),
        graft.functions.stop_profile_counts(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val composed = d.select(col("doc_id") +: profiles.zipWithIndex.map {
        case (words, i) =>
          countIn(tokens(col("text")), words).as(s"c$i")
      }: _*)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getInt)).toMap
    kernel.foreach { case (id, ks) => assert(ks === composed(id), s"doc $id") }
    assert(kernel(1L) === Seq(5, 0, 0, 0)) // the×3, and, of
  }

  test("langId: picks the profile with most stopword hits") {
    val d = docs(
      (1L, "the cat and the dog of the house"),
      (2L, "der Hund und die Katze ist nicht hier"),
      (3L, "xyzzy plugh quux"))
    val got = Dedup.exactKeepers(d) // warm no-op to keep session hot
    val langs = TextAnalysis.langId(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs === Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("fuzzyNamePairs: (brand, type, name-band)-blocked Jaro-Winkler, " +
      "exact cut") {
    val part = Seq(
      (1L, "red widget", "B1", "small"), // vs 2: jw = 0.96 exactly
      (2L, "red widgey", "B1", "small"),
      (3L, "red widget", "B2", "small"), // name twin of 1, blocked by brand
      (4L, "blue bolt", "B1", "small"), // same block, dissimilar
      (5L, "red widget", "B1", "large"), // name twin of 1, blocked by type
      (6L, "xed widget", "B1", "small")) // first-char typo: ADMITTED by the
      // second-char band (r11), then cut by the score (jw 0.9333 < θ —
      // the mismatch forfeits the prefix boost)
      .toDF("p_partkey", "p_name", "p_brand", "p_type")
    val got = Dedup.fuzzyNamePairs(part, threshold = 0.94)
      .as[(Long, Long, Double)].collect().toSeq
    // jaro = (9/10 + 9/10 + 1)/3 = 0.93333…, prefix 4 →
    // jw = 0.93333… + 0.4·(1 − 0.93333…) = 0.96
    assert(got === Seq((1L, 2L, 0.96)))
  }

  test("fuzzyNamePairs: adjacent transposition of the first two chars is " +
      "caught by the sorted-two-char band (r10 advice #1)") {
    // 'abcdefghij' vs 'bacdefghij': m = 10, t = 1, no prefix boost →
    // jw = jaro = (1 + 1 + 9/10)/3 = 0.966667 ≥ 0.94. First AND second
    // characters both differ, so neither single-char band admits it —
    // only band 2 (sorted first two chars: "ab" == "ab") does.
    val part = Seq(
      (1L, "abcdefghij", "B1", "small"),
      (2L, "bacdefghij", "B1", "small"))
      .toDF("p_partkey", "p_name", "p_brand", "p_type")
    val got = Dedup.fuzzyNamePairs(part, threshold = 0.94)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 2L, 0.966667)))
  }
}
