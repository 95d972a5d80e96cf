package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.core.Murmur3

/** ScalaCheck laws for the native text/vector kernels, checked against
  * naive reference implementations (kernel-level — no Spark jobs, so the
  * full 100-case sweep runs in milliseconds). */
object VectorKernelsPropSpec extends Properties("VectorKernels") {

  private val tokenGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val tokensGen = Gen.listOf(tokenGen)
  private val nGen = Gen.choose(1, 5)

  private def arr(tokens: Seq[String]): GenericArrayData =
    new GenericArrayData(tokens.map(t => UTF8String.fromString(t)).toArray[Any])

  private def strings(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[String] =
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString)

  property("wordNgrams == naive sliding window") = forAll(tokensGen, nGen) { (toks, n) =>
    val got = strings(VectorKernels.wordNgrams(arr(toks), n))
    val expected =
      if (toks.length < n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    got == expected
  }

  property("hashArray == element-wise mmh3") = forAll(tokensGen, Gen.choose(0, 100)) {
    (toks, seed) =>
      val got = VectorKernels.hashArray(arr(toks), seed)
      (0 until got.numElements()).forall { i =>
        got.getInt(i) == Murmur3.hashString(toks(i), seed)
      } && got.numElements() == toks.length
  }

  property("xxhash64Array == element-wise xxhash64") = forAll(tokensGen) { toks =>
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val got = VectorKernels.xxhash64Array(arr(toks))
    got.numElements() == toks.length && toks.indices.forall { i =>
      got.getLong(i) == new XxHash64(Seq(Literal(toks(i)))).eval()
    }
  }

  property("minhashSig == per-seed minimum of element hashes") =
    forAll(Gen.nonEmptyListOf(tokenGen), Gen.choose(1, 32)) { (toks, h) =>
      val got = VectorKernels.minhashSig(arr(toks), h)
      (0 until h).forall { s =>
        got.getInt(s) == toks.map(t => Murmur3.hashString(t, s)).min
      }
    }

  property("simhash is permutation- and duplication-sensitive only via counts") =
    forAll(Gen.nonEmptyListOf(tokenGen)) { toks =>
      // order never matters (vote sums commute)
      VectorKernels.simhash(arr(toks)) ==
        VectorKernels.simhash(arr(scala.util.Random.shuffle(toks)))
    }

  property("winnow == naive per-window rightmost minima") = {
    val hashesGen = Gen.listOf(Gen.choose(-20, 20)) // narrow range forces ties
    val wGen = Gen.choose(1, 6)
    def naive(h: Seq[Int], w: Int): Seq[Int] =
      if (h.isEmpty) Seq.empty
      else if (h.length <= w) Seq(h.zipWithIndex.minBy { case (v, i) => (v, -i) }._1)
      else {
        // rightmost min per window; selected positions are non-decreasing,
        // so consecutive dedup == full dedup
        val sel = (0 to h.length - w)
          .map(i => (i until i + w).minBy(j => (h(j), -j)))
        sel.distinct.map(h)
      }
    forAll(hashesGen, wGen) { (h, w) =>
      val in = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(h.toArray)
      val got = VectorKernels.winnow(in, w)
      (0 until got.numElements()).map(got.getInt) == naive(h, w)
    }
  }

  property("wordTokens == regex tokenizer on arbitrary strings") = {
    // mixed generator: plain unicode strings plus strings salted with the
    // interesting cases (ascii runs, digits, multi-byte, case-folding
    // expansions like İ and ﬁ, separators)
    val salt = Gen.oneOf("a1B2", "Ångström 42", "İstanbul", "ﬁne", "日本語x9",
      "A-B_c.d", "   ", "", "ΣΊΣΥΦΟΣ", "K2")
    val strGen = for {
      base <- Gen.asciiPrintableStr
      uni <- Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.choose('À', 'ӿ')))
        .map(_.mkString)
      s <- Gen.oneOf(base, uni, base + " " + uni)
      extra <- salt
      out <- Gen.oneOf(s, extra + s, s + extra)
    } yield out
    forAll(strGen) { s =>
      val u = UTF8String.fromString(s)
      val got = strings(VectorKernels.wordTokens(u))
      // the exact composition every oracle uses: lower() then the regex
      val expected = "[a-z0-9]+".r.findAllIn(u.toLowerCase.toString).toSeq
      got == expected
    }
  }

  property("hashedLrScore == bucket/weight fold over the regex tokens, any dim") = {
    val strGen = for {
      base <- Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', ',', '!', '\t')))
        .map(_.mkString)
      uni <- Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.choose('À', 'ӿ')))
        .map(_.mkString)
      s <- Gen.oneOf(base, uni, base + " " + uni)
    } yield s
    forAll(strGen, Gen.choose(1, 256)) { (s, dim) =>
      val u = UTF8String.fromString(s)
      val got = VectorKernels.hashedLrScore(u, dim)
      val expected = "[a-z0-9]+".r.findAllIn(u.toLowerCase.toString)
        .map { t =>
          val b = (t.length * 31L + t.head.toLong) % dim
          (b * 2654435761L) % 1001L - 500L
        }.sum
      got == expected
    }
  }

  property("wordNgramStats == size/distinct over the materialized shingles") =
    forAll(tokensGen, nGen) { (toks, n) =>
      val st = VectorKernels.wordNgramStats(arr(toks), n)
      val sh = strings(VectorKernels.wordNgrams(arr(toks), n))
      st.getLong(0) == math.max(toks.length - n + 1, 1).toLong &&
        st.getLong(1) == sh.distinct.length.toLong
    }

  property("gopherTokenStats == the composed token measurements") = {
    val textGen = for {
      ws <- Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '.', '!')))
        .map(_.mkString)
      stop <- Gen.someOf(VectorKernels.stopEn)
    } yield (ws + " " + stop.mkString(" ")).trim
    forAll(textGen) { s =>
      val u = UTF8String.fromString(s)
      val st = VectorKernels.gopherTokenStats(u)
      val toks = "[a-z0-9]+".r.findAllIn(u.toLowerCase.toString).toSeq
      st.getLong(0) == toks.length.toLong &&
        st.getLong(1) == toks.map(_.length).sum.toLong &&
        st.getLong(2) == toks.count(_.exists(c => c >= 'a' && c <= 'z')).toLong &&
        st.getLong(3) == toks.toSet.intersect(VectorKernels.stopEn.toSet).size.toLong
    }
  }

  property("identical shingle sets => identical minhash signature") =
    forAll(Gen.nonEmptyListOf(tokenGen)) { toks =>
      val a = VectorKernels.minhashSig(arr(toks), 16)
      val b = VectorKernels.minhashSig(arr(scala.util.Random.shuffle(toks)), 16)
      (0 until 16).forall(i => a.getInt(i) == b.getInt(i))
    }

  property("bigramStats == naive groupBy count on adjacent pairs") =
    forAll(tokensGen) { toks =>
      val got = VectorKernels.bigramStats(arr(toks))
      val (top, total) = (got.getLong(0), got.getLong(1))
      if (toks.length < 2) top == 0L && total == 0L
      else {
        val counts = toks.sliding(2).toSeq.groupBy(identity).map(_._2.size)
        top == counts.max.toLong && total == (toks.length - 1).toLong
      }
    }

  property("bigramStats: constant token sequence has full repetition mass") =
    forAll(tokenGen, Gen.choose(2, 40)) { (t, n) =>
      val got = VectorKernels.bigramStats(arr(Seq.fill(n)(t)))
      got.getLong(0) == (n - 1).toLong && got.getLong(1) == (n - 1).toLong
    }

  property("pqAdc rejects any out-of-range code, at any subspace") =
    forAll(Gen.choose(1, 4), Gen.choose(2, 8), Gen.choose(0, 3)) { (m, ksub, badJ) =>
      val j = badJ % m
      val table = new GenericArrayData(Array.fill[Any](m * ksub)(1.0))
      val good = new GenericArrayData(Array.fill[Any](m)(0))
      val bad = new GenericArrayData(
        Array.tabulate[Any](m)(i => if (i == j) ksub else 0))
      val okSum = VectorKernels.pqAdc(table, good, ksub)
      okSum == m.toDouble && scala.util.Try(
        VectorKernels.pqAdc(table, bad, ksub)).isFailure
    }
}
