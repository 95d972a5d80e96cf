package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.core.{BloomFilter, Murmur3}
import graft.functions.{mmh3 => gmmh3, _}

class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("mmh3 expression matches core Murmur3 (codegen path)") {
    val keys = Seq("tt0000001", "", "héllo", "日本語", "a", "abcd", "abcde")
    val df = keys.toDF("key")
    for (seed <- Seq(0, 1, 7)) {
      val got = df.select($"key", gmmh3($"key", seed).as("h")).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      keys.foreach { k =>
        assert(got(k) === Murmur3.hashString(k, seed), s"key=$k seed=$seed")
      }
    }
  }

  test("mmh3 via SQL (injected by GraftExtensions)") {
    val r = spark.sql("SELECT mmh3('hello', 0) AS h").head().getInt(0)
    assert(r === 0x248bfa47)
  }

  test("nb_score_sum: broadcast-table integer fold matches hand arithmetic") {
    val table = spark.sparkContext.broadcast(
      graft.core.QuantizedLogProbs(Map("a" -> -10L, "b" -> -20L), -99L))
    val rows = Seq(
      Seq("a", "a", "b"), // -1000 + 2·(-10) + (-20)
      Seq("zzz"), // unseen -> default
      Seq.empty[String]) // empty -> prior alone
      .toDF("toks")
      .select(nb_score_sum(table, -1000L, $"toks").as("s"))
      .as[Long].collect().toSeq
    assert(rows === Seq(-1040L, -1099L, -1000L))
    // null array propagates null (nullIntolerant unary expression)
    val withNull = Seq(Tuple1(Option.empty[Seq[String]]))
      .toDF("toks")
      .select(nb_score_sum(table, -1000L, $"toks").as("s"))
      .collect()
    assert(withNull.head.isNullAt(0))
  }

  test("jaro_winkler expression matches the core kernel (codegen + SQL)") {
    val pairs = Seq(("martha", "marhta"), ("dixon", "dicksonx"),
      ("crate", "trace"), ("", ""), ("abc", "abc"))
    val got = pairs.toDF("a", "b")
      .select(jaro_winkler($"a", $"b").as("jw"))
      .as[Double].collect()
    pairs.zip(got).foreach { case ((a, b), jw) =>
      assert(jw === graft.core.JaroWinkler.similarity(a, b), s"($a, $b)")
    }
    val viaSql = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS jw")
      .head().getDouble(0)
    assert(viaSql === graft.core.JaroWinkler.similarity("martha", "marhta"))
    // null propagation (nullIntolerant binary expression)
    assert(spark.sql("SELECT jaro_winkler(CAST(NULL AS STRING), 'x') AS jw")
      .head().isNullAt(0))
  }

  test("text/vector kernels resolve from SQL too") {
    val ng = spark.sql(
      "SELECT word_ngrams(array('a','b','c','d'), 3) AS s").head().getSeq[String](0)
    assert(ng === Seq("a b c", "b c d"))
    val h = spark.sql(
      "SELECT hash_array(array('hello'), 0) AS h").head().getSeq[Int](0)
    assert(h === Seq(0x248bfa47))
    val s1 = spark.sql(
      "SELECT srp_sig(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 16, 0) AS s")
      .head().getLong(0)
    val s2 = Seq((1L, Seq(1.0f, -2.0f))).toDF("id", "emb")
      .select(graft.functions.srp_sig($"emb", 16, 0)).head().getLong(0)
    assert(s1 === s2)
    val bs = spark.sql(
      "SELECT bigram_stats(array('a','b','a','b')) AS s").head().getSeq[Long](0)
    assert(bs === Seq(2L, 3L))
    // hand value: bucket("the") = 17, weight = 110 (see TextDedupSpec)
    val lr = spark.sql(
      "SELECT hashed_lr_score('The the', 64) AS s").head().getLong(0)
    assert(lr === 220L)
    // sq8 round trip from SQL: unit x-axis vector -> cosine 1 with itself
    val sq = spark.sql(
      "SELECT sq8_cos(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "sq8_encode(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))) AS c")
      .head().getDouble(0)
    assert(sq === 1.0)
  }

  test("registerAll covers a session without the extension") {
    val fresh = spark.newSession()
    graft.functions.registerAll(fresh)
    val r = fresh.sql("SELECT mmh3('hello', 0) AS h").head().getInt(0)
    assert(r === 0x248bfa47)
    // wrong arity fails with a named analysis error (wrapped differently
    // depending on whether the temp function or the injected catalog
    // function resolves first)
    val err = intercept[Exception] {
      fresh.sql("SELECT mmh3('one-arg')").collect()
    }
    assert(err.getMessage.contains("mmh3"))
  }

  test("mmh3 null propagation") {
    val r = Seq[Option[String]](Some("x"), None).toDF("key")
      .select(gmmh3($"key", 0).as("h")).collect()
    assert(!r(0).isNullAt(0))
    assert(r(1).isNullAt(0))
  }

  test("bloom_build aggregator + bloom_might_contain probe round-trip") {
    val p = 0.1
    val k = BloomFilter.numHashes(p)
    val n = 500
    val m = BloomFilter.numBits(n, p)
    val train = (0 until n).map(i => (s"key-$i", i % 3)).toDF("key", "grp")
      .withColumn("m", lit(m)).withColumn("k", lit(k))

    val filters = train.groupBy($"grp")
      .agg(bloom_build_native($"key", $"m", $"k").as("bits"), count("*").as("n"))
      .withColumn("m", lit(m)).withColumn("k", lit(k))

    // every trained key must be found in its own group's filter (no FN)
    val joined = train.drop("m", "k").join(filters, "grp")
      .select($"key", $"grp", bloom_might_contain($"bits", $"m", $"k", $"key").as("hit"))
    assert(joined.filter(!$"hit").count() === 0)

    // disjoint probes: FP rate near p, certainly below 3p at these sizes
    val probes = (0 until 3000).map(i => (s"probe-$i", i % 3)).toDF("key", "grp")
    val fp = probes.join(filters, "grp")
      .filter(bloom_might_contain($"bits", $"m", $"k", $"key")).count()
    val rate = fp.toDouble / 3000
    assert(rate < 3 * p, s"fp rate $rate vs p=$p")
  }

  test("bloom_might_contain agrees with core kernel bit-for-bit") {
    val bf = BloomFilter.create(100, 0.05)
    (0 until 100).foreach(i => bf.put(s"k$i"))
    val probes = (0 until 300).map(i => s"k$i")
    val df = probes.toDF("key")
      .withColumn("bits", lit(bf.toBytes))
      .withColumn("m", lit(bf.m)).withColumn("k", lit(bf.k))
    val got = df.select($"key", bloom_might_contain($"bits", $"m", $"k", $"key").as("hit"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    probes.foreach { p =>
      assert(got(p) === bf.mightContain(p), s"probe $p")
    }
  }

  test("bloom_build_native == driver-built core.BloomFilter per group, incl. SQL path") {
    val (m, k) = (2048, 4)
    val keys = (0 until 4000).map(i => (s"key-$i", i % 5))
    val train = keys.toDF("key", "grp")
      .withColumn("m", lit(m)).withColumn("k", lit(k))
    def bitsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val expected = keys.groupBy(_._2).map { case (grp, ks) =>
      val bf = BloomFilter.empty(m, k)
      ks.foreach { case (key, _) => bf.put(key) }
      grp -> bf.toBytes.toSeq
    }
    val viaNative = bitsOf(train.groupBy($"grp")
      .agg(bloom_build_native($"key", $"m", $"k").as("bits")))
    assert(viaNative === expected)

    train.createOrReplaceTempView("bbn_input")
    val viaSql = bitsOf(spark.sql(
      "SELECT grp, bloom_build_native(key, m, k) AS bits FROM bbn_input GROUP BY grp"))
    assert(viaSql === expected)
  }

  test("bloom_build_native skips null keys and serializes across partials") {
    val rows = (0 until 1000).map(i => (if (i % 7 == 0) null else s"k$i", 1)) :+ (null, 1)
    val df = rows.toDF("key", "grp").repartition(8) // force partial merges
      .withColumn("m", lit(1024)).withColumn("k", lit(3))
    val bits = df.groupBy($"grp")
      .agg(bloom_build_native($"key", $"m", $"k").as("bits"))
      .head().getAs[Array[Byte]]("bits")
    val expected = BloomFilter.empty(1024, 3)
    rows.foreach { case (k, _) => if (k != null) expected.put(k) }
    assert(bits.toSeq === expected.toBytes.toSeq)
  }

  test("empty group (no rows) never happens; zero-length key ok") {
    val df = Seq(("", 0)).toDF("key", "grp")
      .withColumn("m", lit(64)).withColumn("k", lit(3))
    val filters = df.groupBy($"grp").agg(bloom_build_native($"key", $"m", $"k").as("bits"))
    val bits = filters.head().getAs[Array[Byte]]("bits")
    assert(bits.length === 8)
    assert(BloomFilter.mightContainBytes(bits, 64, 3, Array.emptyByteArray))
  }

  test("bloom_build_indexed rejects partitions of one group with mismatched geometry") {
    // each row lands in its own partition, so the two buffers only meet
    // in merge — which must refuse to OR a 128-bit buffer into a 64-bit one
    val rows = Seq(BloomIndexInput(5, 64, 3), BloomIndexInput(5, 128, 3))
    val df = spark.sparkContext.parallelize(rows, 2).toDF()
    val ex = intercept[Exception] {
      df.agg(bloom_build_indexed($"idx", $"m", $"k").as("bits")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("merging mismatched buffers")),
      s"unexpected failure: $ex")
  }
}
