package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** [[Tokenizer]]: distributed BPE training. The pair-count stage is
  * oracle-checked (`t23_bpe_pairs`); these tests gate the iterative merge
  * table — which has no SQL twin — against an independent in-memory
  * reference trainer, and pin the merge-rewrite semantics (greedy
  * left-to-right, non-overlapping) on hand-checkable words. */
class TokenizerSpec extends SparkSuite {

  /** Encodes one word by applying `merges` in rank order, each greedy
    * left-to-right and non-overlapping. */
  private def encodeReference(word: String,
      merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(word.map(_.toString): Seq[String]) { case (syms, (l, r)) =>
      val acc = scala.collection.mutable.ArrayBuffer.empty[String]
      for (s <- syms) {
        if (acc.nonEmpty && acc.last == l && s == r)
          acc(acc.length - 1) = l + r
        else acc += s
      }
      acc.toSeq
    }

  /** In-memory reference BPE trainer over collected word counts — the
    * independent implementation this spec gates [[Tokenizer.bpeTrain]]
    * against. Same tie-break, same greedy left-to-right merge. */
  private def bpeTrainReference(
      wordCounts: Seq[(String, Long)], nMerges: Int): Seq[(Int, String, String, Long)] = {
    var words: Seq[(Vector[String], Long)] =
      wordCounts.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), n) = counts.toSeq.minBy { case ((a, b), m) => (-m, a, b) }
        out += ((rank, l, r, n))
        words = words.map { case (syms, c) =>
          val acc = Vector.newBuilder[String]
          var last: String = null
          for (s <- syms) {
            if (last == l && s == r) {
              val merged = acc.result()
              acc.clear()
              merged.init.foreach(acc += _)
              acc += (l + r)
              last = l + r
            } else { acc += s; last = s }
          }
          (acc.result(), c)
        }
        rank += 1
      }
    }
    out.toSeq
  }

  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("bpePairCounts: weighted adjacent pairs with deterministic ties") {
    // corpus: "low low lower" -> words low(2), lower(1)
    // pairs: l-o 3, o-w 3, w-e 1, e-r 1
    val got = Tokenizer.bpePairCounts(docs("low low lower"), topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      ("l", "o", 3L), ("o", "w", 3L), ("e", "r", 1L), ("w", "e", 1L)))
  }

  test("mergeOnce: greedy left-to-right, non-overlapping") {
    val d = Seq(
      (1L, Array("a", "a", "a")),        // (a,a) -> [aa, a], not [a, aa]
      (2L, Array("a", "a", "a", "a")),   // -> [aa, aa]
      (3L, Array("b", "a", "a", "b")),   // -> [b, aa, b]
      (4L, Array("a", "b"))              // untouched by (a,a)
    ).toDF("id", "syms")
    val got = d.withColumn("m", Tokenizer.mergeOnce("syms", "a", "a"))
      .orderBy("id").collect()
      .map(_.getAs[scala.collection.Seq[String]]("m").toSeq)
    assert(got.toSeq === Seq(
      Seq("aa", "a"), Seq("aa", "aa"), Seq("b", "aa", "b"), Seq("a", "b")))
  }

  test("bpeTrain equals the independent reference trainer, merge for merge") {
    // enough structure for 6 distinct merges incl. a multi-char symbol
    // ("lo"+"w") and frequency ties broken lexicographically
    val corpus = docs(
      "low low low lower lowest",
      "new newer newest news",
      "low news lower newer")
    val got = Tokenizer.bpeTrain(corpus, nMerges = 6)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))

    val wc = Tokenizer.wordCounts(corpus)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = bpeTrainReference(wc, nMerges = 6)
    assert(got.toSeq === want)
    // the learned merges must build multi-char symbols, not stay at chars
    assert(want.exists { case (_, l, r, _) => (l + r).length > 2 })
  }

  test("bpeTrain round 1 equals the oracle-checked pair-count head") {
    val corpus = docs("aba cab abc", "bca cab aba")
    val firstMerge = Tokenizer.bpeTrain(corpus, nMerges = 1).collect()(0)
    val pairHead = Tokenizer.bpePairCounts(corpus, topK = 1).collect()(0)
    assert(firstMerge.getString(1) === pairHead.getString(0))
    assert(firstMerge.getString(2) === pairHead.getString(1))
    assert(firstMerge.getLong(3) === pairHead.getLong(2))
  }

  test("bpeTrain matches the reference on a seeded random corpus (fold sweep)") {
    // 200 random words over a 4-char alphabet maximize merge collisions
    // (repeated chars, overlapping pairs) — the fold's hard cases — in
    // ONE distributed run against the reference trainer
    val rnd = new scala.util.Random(20260813L)
    val words = Seq.fill(200)(
      (0 until (1 + rnd.nextInt(7))).map(_ => "abcd"(rnd.nextInt(4))).mkString)
    val corpus = docs(words.grouped(20).map(_.mkString(" ")).toSeq: _*)
    val got = Tokenizer.bpeTrain(corpus, nMerges = 5)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val wc = Tokenizer.wordCounts(corpus)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.toSeq === bpeTrainReference(wc, nMerges = 5))
  }

  test("encodeWithMerges equals the reference encoder and honors its bounds") {
    val corpus = docs(
      "low low low lower lowest",
      "new newer newest news",
      "low news lower newer")
    val merges = Tokenizer.bpeTrain(corpus, nMerges = 6)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val got = Tokenizer.encodeWithMerges(corpus, merges)
      .orderBy("doc_id").collect()

    // independent recomputation: reference-encode every word per doc
    val texts = corpus.orderBy("doc_id").collect().map(_.getString(1))
    got.zip(texts).foreach { case (r, text) =>
      val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val wantSub = words.map(w =>
        encodeReference(w, merges).length.toLong).sum
      assert(r.getAs[Long]("n_tokens") === words.length.toLong)
      assert(r.getAs[Long]("n_chars") === words.map(_.length.toLong).sum)
      assert(r.getAs[Long]("n_subwords") === wantSub)
      // merges can only compress: tokens <= subwords <= chars
      assert(r.getAs[Long]("n_tokens") <= r.getAs[Long]("n_subwords"))
      assert(r.getAs[Long]("n_subwords") <= r.getAs[Long]("n_chars"))
    }
    // the learned merges actually compress this corpus
    assert(got.map(_.getAs[Long]("n_subwords")).sum
      < got.map(_.getAs[Long]("n_chars")).sum)
  }

  test("bpeTrain stops early when no pair remains") {
    // single-char words only: zero pairs, zero merges
    val got = Tokenizer.bpeTrain(docs("a b c a"), nMerges = 4).collect()
    assert(got.isEmpty)
  }

  test("bigramLmScore: backoff arithmetic on a hand-checked split") {
    // train: "a b a b" -> uni a:2 b:2, N=4; bigrams ab:2, ba:1
    // score: "a b c" -> bigrams (a,b) seen: S=2/2=1; (b,c): c unseen
    // in train -> OOV floor S=0.4/4=0.1
    val d = Seq(
      (1L, "train", "a b a b"),
      (2L, "score", "a b c")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.bigramLmScore(d, col("source") === "train")
      .collect()
    assert(got.length === 1)
    val r = got(0)
    assert(r.getAs[Long]("doc_id") === 2L)
    assert(r.getAs[Long]("n_bigrams") === 2L)
    // xent = -(1*ln(1) + 1*ln(0.1)) / 2
    val want = -(math.log(1.0) + math.log(0.1)) / 2.0
    assert(math.abs(r.getAs[Double]("xent") - want) < 1e-6)
  }

  test("dsirWeights: target-like candidates score above off-target ones") {
    // target domain: "the cat sat" patterns; candidates: one echoing the
    // target phrasing, one alien. The echo must get the higher weight.
    val d = Seq(
      (1L, "tgt", "the cat sat on the mat"),
      (2L, "tgt", "the cat sat on the rug"),
      (3L, "raw", "the cat sat on the mat"),
      (4L, "raw", "zq xv qj zq xv qj zq"),
      (5L, "raw", "zq xv qj wk zq xv wk")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.dsirWeights(d, col("source") === "tgt")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_ratio")).toMap
    assert(got.keySet === Set(3L, 4L, 5L))
    assert(got(3L) > got(4L) && got(3L) > got(5L))
    // the alien docs are pure OOV under the target LM -> negative ratio
    assert(got(4L) < 0.0 && got(5L) < 0.0)
  }

  test("dsirWeights: ratio equals the two backoff scores' difference") {
    // one candidate, hand-checked under both models
    // target: "a b" -> uni_t a:1 b:1 N_t=2; bi_t ab:1
    // raw = candidates: "a b b" -> uni_r a:1 b:2 N_r=3; bi_r ab:1 bb:1
    // candidate "a b b": (a,b): S_t = 1/1 = 1, S_r = 1/1 = 1
    //                    (b,b): S_t = 0.4*1/2 = 0.2, S_r = 1/2 = 0.5
    // log_ratio = (ln 1 + ln .2 - ln 1 - ln .5) / 2 = ln(0.4)/2
    val d = Seq(
      (1L, "tgt", "a b"),
      (2L, "raw", "a b b")).toDF("doc_id", "source", "text")
    val r = TextAnalysis.dsirWeights(d, col("source") === "tgt").collect()(0)
    assert(r.getAs[Long]("n_bigrams") === 2L)
    assert(math.abs(r.getAs[Double]("log_ratio") - math.log(0.4) / 2.0) < 1e-6)
  }

  test("bigramLmScore: unigram backoff path (cur seen, bigram unseen)") {
    // train: "a b" and "b a" -> bigrams ab:1, ba:1; uni a:2 b:2, N=4
    // score: "a a" -> bigram (a,a) unseen, a seen -> S = 0.4 * 2/4 = 0.2
    val d = Seq(
      (1L, "train", "a b"),
      (2L, "train", "b a"),
      (3L, "score", "a a")).toDF("doc_id", "source", "text")
    val r = TextAnalysis.bigramLmScore(d, col("source") === "train")
      .collect()(0)
    assert(r.getAs[Long]("n_bigrams") === 1L)
    assert(math.abs(r.getAs[Double]("xent") - (-math.log(0.2))) < 1e-6)
  }
}
