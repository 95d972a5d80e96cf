package graft.functions

import org.apache.spark.sql.Column
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

  // every kernel-table entry's Column function, by SQL name
  private val columnCalls: Map[String, (Seq[Column], Seq[Int]) => Column] = Map(
    "word_tokens" -> ((c, _) => word_tokens(c(0))),
    "word_ngrams" -> ((c, k) => word_ngrams(c(0), k(0))),
    "ngram_stats" -> ((c, k) => ngram_stats(c(0), k(0))),
    "bigram_stats" -> ((c, _) => bigram_stats(c(0))),
    "gopher_token_stats" -> ((c, _) => gopher_token_stats(c(0))),
    "stop_profile_counts" -> ((c, _) => stop_profile_counts(c(0))),
    "hashed_lr_score" -> ((c, k) => hashed_lr_score(c(0), k(0))),
    "hash_array" -> ((c, k) => hash_array(c(0), k(0))),
    "xxhash64_array" -> ((c, _) => xxhash64_array(c(0))),
    "winnow" -> ((c, k) => winnow(c(0), k(0))),
    "minhash_sig" -> ((c, k) => minhash_sig(c(0), k(0))),
    "simhash64" -> ((c, _) => simhash64(c(0))),
    "cosine_sim" -> ((c, _) => cosine_sim(c(0), c(1))),
    "dot_product" -> ((c, _) => dot_product(c(0), c(1))),
    "vec_sub" -> ((c, _) => vec_sub(c(0), c(1))),
    "int8_quant_stats" -> ((c, _) => int8_quant_stats(c(0))),
    "sq8_encode" -> ((c, _) => sq8_encode(c(0))),
    "sq8_cos" -> ((c, _) => sq8_cos(c(0), c(1))),
    "pq_encode" -> ((c, k) => pq_encode(c(0), c(1), k(0), k(1))),
    "pq_table" -> ((c, k) => pq_table(c(0), c(1), k(0), k(1))),
    "pq_adc" -> ((c, k) => pq_adc(c(0), c(1), k(0))),
    "srp_sig" -> ((c, k) => srp_sig(c(0), k(0), k(1))),
    "jaro_winkler" -> ((c, _) => jaro_winkler(c(0), c(1))),
    "hist_l1" -> ((c, _) => hist_l1(c(0), c(1))),
    "hist_common" -> ((c, _) => hist_common(c(0), c(1))))

  test("kernel table: SQL equals Column, generated equals interpreted, " +
      "and wrong arguments fail naming the function") {
    import org.apache.spark.sql.{AnalysisException, Row}
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types._
    assert(columnCalls.keySet === Kernels.table.map(_.name).toSet)
    // vectors of 4 dims; with m = ksub = 2 every constant below is 2:
    // the codebook holds m*ksub*2 doubles, the ADC table m*ksub, and the
    // sq8 container 8 scale bytes + 4 codes
    val schema = new StructType()
      .add("s1", StringType).add("s2", StringType)
      .add("toks", ArrayType(StringType))
      .add("vf", ArrayType(FloatType)).add("vd", ArrayType(DoubleType))
      .add("dv", ArrayType(DoubleType)).add("cb", ArrayType(DoubleType))
      .add("codes", ArrayType(IntegerType)).add("bin", BinaryType)
      .add("n", IntegerType).add("flag", BooleanType)
    def row(s1: String, s2: String, toks: Seq[String], v: Seq[Double],
        cb: Seq[Double], codes: Seq[Int], bin: Seq[Int]) =
      Row(s1, s2, toks, v.map(_.toFloat), v, v.map(_ / 10), cb, codes,
        bin.map(_.toByte).toArray, 3, true)
    // a third row of NULLs: every kernel propagates it
    val rows = Seq(
      row("The quick brown fox, the lazy dog 42", "the quick brown fax",
        Seq("a", "b", "a", "b", "c"), Seq(0.5, -1.0, 2.0, 0.25),
        Seq(1.0, 0.0, 0.0, 1.0, 1.0, 1.0, -1.0, 0.5), Seq(1, 0),
        Seq(0, 0, 0, 0, 0, 0, 0, 0, 10, -20, 127, 3)),
      row("Der Hund und die Katze", "der hund", Seq("x"), Seq(-3.0, 1.5, 0.0, 7.0),
        Seq(0.5, -0.5, 2.0, 1.0, -1.0, 0.0, 0.25, 4.0), Seq(0, 1),
        Seq(63, -128, 0, 0, 0, 0, 0, 0, -1, 5, 0, 90)),
      Row.fromSeq(Seq.fill(schema.size)(null)))
    // an RDD-backed frame: no local-relation or constant folding can
    // evaluate the kernels on the driver before the plan runs
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    def values(d: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      d.collect().toSeq.map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      })
    def withConf[T](kv: (String, String)*)(body: => T): T = {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
    }
    import KernelArg._
    for (k <- Kernels.table) {
      val vectors = if (k.args.contains(Vec)) Seq("vf", "vd") else Seq("")
      for (vec <- vectors) {
        // a kernel's i-th column of one kind reads that kind's i-th input
        val pool = Map[KernelArg, Seq[String]](Str -> Seq("s1", "s2"),
          Strs -> Seq("toks"), Vec -> Seq(vec, vec), Doubles -> Seq("dv", "cb"),
          Ints -> Seq("codes"), Bin -> Seq("bin"))
        val names = k.args.filterNot(_.isInstanceOf[Const]).foldLeft(Seq.empty[String]) {
          (acc, a) => acc :+ pool(a)(acc.count(pool(a).contains))
        }
        val consts = k.args.collect { case _: Const => 2 }
        val call = columnCalls(k.name)(names.map(df.col), consts)
        val what = s"${k.name} over (${names.mkString(", ")})"
        // (a) the SQL surface and the Column surface agree
        val viaSql = df.selectExpr(s"${k.name}(${(names ++ consts).mkString(", ")})")
        assert(values(viaSql) === values(df.select(call)), what)
        // (b) whole-stage generated code and the interpreted path agree
        val gen = withConf("spark.sql.codegen.wholeStage" -> "true",
            "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
          val d = df.select(call)
          assert(d.queryExecution.executedPlan
            .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined, what)
          values(d)
        }
        val interp = withConf("spark.sql.codegen.wholeStage" -> "false",
            "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(values(df.select(call)))
        assert(gen === interp, what)
        assert(gen(2) === Seq(null), s"$what: NULL in, NULL out")
        // (c) a wrong-typed column fails analysis, naming the function
        val wrong = intercept[AnalysisException] {
          df.select(columnCalls(k.name)(df.col("flag") +: names.tail.map(df.col), consts))
        }
        assert(wrong.getMessage.contains(k.name), wrong.getMessage)
        // (d) a column where an INT constant belongs fails, naming it
        if (consts.nonEmpty) {
          val e = intercept[Exception] {
            df.selectExpr(s"${k.name}(${(names ++ ("n" +: consts.tail)).mkString(", ")})")
          }
          assert(e.getMessage.contains(k.name) && e.getMessage.contains("INT literal"),
            e.getMessage)
        }
      }
      if (k.sameElements) {
        val mixed = intercept[AnalysisException] {
          df.select(columnCalls(k.name)(Seq(df.col("vf"), df.col("vd")), Nil))
        }
        assert(mixed.getMessage.contains(k.name), mixed.getMessage)
      }
    }
  }
}
