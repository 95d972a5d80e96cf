package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.{BloomFilter, Murmur3}
import graft.functions.bloom_might_contain

class ShardedBloomSpec extends SparkSuite {
  import spark.implicits._

  private val p = 0.05

  private def ratings(n: Int, groups: Int) =
    (0 until n).map(i => (s"key-$i", i % groups)).toDF("movieId", "rating")

  test("sharded geometry: slab count and per-slab sizing") {
    val counts = Seq((1, 10000L)).toDF("rating", "n")
    val row = BloomPipeline.shardedSized(counts, p, maxSlabBits = 8192).head()
    val bpk = -math.log(p) / (math.log(2) * math.log(2))
    val expectedS = math.ceil(math.ceil(10000 * bpk) / 8192.0).toInt
    assert(row.getAs[Int]("s") === expectedS)
    val nSlab = math.ceil(10000.0 / expectedS).toLong
    assert(row.getAs[Int]("m") === BloomFilter.numBits(nSlab, p))
    assert(row.getAs[Int]("k") === BloomFilter.numHashes(p))
    assert(row.getAs[Int]("m") <= 8192 + bpk.toInt + 1, "slab stays bounded")
  }

  test("multi-shard build: zero false negatives, bounded FPP, s slabs per group") {
    val train = ratings(6000, 3)
    // tiny slabs -> every group genuinely splits
    val filters = BloomPipeline.buildShardedFilters(train, p, maxSlabBits = 2048)
    val s = filters.select("s").distinct().as[Int].collect()
    assert(s.forall(_ > 1), s"expected multi-shard, got s=${s.toSeq}")
    val slabCounts = filters.groupBy("rating").count().as[(Int, Long)].collect().toMap
    slabCounts.foreach { case (_, c) => assert(c > 1) }

    // zero FN: every train key hits its own slab
    val geometry = filters.select("rating", "s", "m", "k").distinct()
    val fn = train.join(broadcast(geometry), "rating")
      .withColumn("shard",
        pmod(graft.functions.mmh3($"movieId", BloomPipeline.routeSeed), $"s"))
      .join(filters.select("rating", "shard", "bits"), Seq("rating", "shard"))
      .where(!bloom_might_contain($"bits", $"m", $"k", $"movieId"))
      .count()
    assert(fn === 0L)

    // disjoint probes: FPP within 3x of requested
    val probes = (0 until 9000).map(i => (s"probe-$i", i % 3)).toDF("movieId", "rating")
    val stats = BloomPipeline.fpStatsSharded(probes, filters)
      .agg(sum("falsePositives"), sum("total")).head()
    val rate = stats.getLong(0).toDouble / stats.getLong(1)
    assert(rate < 3 * p, s"fp rate $rate vs p=$p")
  }

  test("single-shard degenerates to the unsharded filters byte-for-byte") {
    val train = ratings(2000, 2)
    val sharded = BloomPipeline.buildShardedFilters(train, p, maxSlabBits = 1L << 40)
      .select($"rating", $"shard", $"m", $"k", $"bits").collect()
    val plain = BloomPipeline.buildFilters(train, p)
      .select($"rating", $"m", $"k", $"bits").collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(sharded.length === plain.size)
    sharded.foreach { r =>
      val exp = plain(r.getInt(0))
      assert(r.getInt(1) === 0) // single shard id
      assert(r.getInt(2) === exp.getInt(1), "m")
      assert(r.getInt(3) === exp.getInt(2), "k")
      assert(r.getAs[Array[Byte]]("bits").toSeq === exp.getAs[Array[Byte]]("bits").toSeq)
    }
  }

  test("probe routes each key to exactly one slab") {
    val train = ratings(4000, 2)
    val filters = BloomPipeline.buildShardedFilters(train, p, maxSlabBits = 2048)
    val geometry = filters.select("rating", "s", "m", "k").distinct()
    val routed = train.join(broadcast(geometry), "rating")
      .withColumn("shard",
        pmod(graft.functions.mmh3($"movieId", BloomPipeline.routeSeed), $"s"))
    // shard ids in range and deterministic
    val bad = routed.where($"shard" < 0 || $"shard" >= $"s").count()
    assert(bad === 0L)
    val perKey = routed.groupBy("movieId").agg(countDistinct("shard").as("n"))
      .where($"n" > 1).count()
    assert(perKey === 0L)
  }

  /** Driver-side recount of the sharded probe: route each key with
    * `floorMod(murmur3(key, routeSeed), s)` and probe its slab with the
    * core kernel. Per rating: (falsePositives, total). */
  private def recount(probes: Seq[(String, Int)],
      filters: org.apache.spark.sql.DataFrame): Map[Int, (Long, Long)] = {
    val slabs = filters.select("rating", "shard", "s", "m", "k", "bits").collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getAs[Array[Byte]](5)))).toMap
    val shards = slabs.map { case ((rating, _), (s, _, _, _)) => rating -> s }
    probes.filter { case (_, rating) => shards.contains(rating) }
      .groupBy(_._2).map { case (rating, keys) =>
        val hits = keys.count { case (key, _) =>
          val bytes = key.getBytes(StandardCharsets.UTF_8)
          val shard = Math.floorMod(
            Murmur3.hashBytes(bytes, BloomPipeline.routeSeed), shards(rating))
          val (_, m, k, bits) = slabs((rating, shard))
          BloomFilter.mightContainBytes(bits, m, k, bytes)
        }
        rating -> ((hits.toLong, keys.size.toLong))
      }
  }

  private def statsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getInt(0) ->
      ((r.getAs[Long]("falsePositives"), r.getAs[Long]("total"),
        r.getAs[Double]("fpRate")))).toMap

  test("fpStatsSharded (cogroup form): zero FN on members, equals " +
      "a driver-side recount, skips filterless groups") {
    val train = ratings(4000, 2)
    val filters = BloomPipeline.buildShardedFilters(train, p, maxSlabBits = 2048)
    // members: every probe hits (the hard invariant through the cogroup path)
    val own = statsOf(BloomPipeline.fpStatsSharded(train, filters))
    assert(own.keySet === Set(0, 1))
    own.values.foreach { case (h, t, _) => assert(t === 2000L && h === t) }
    // non-members: cogroup verdicts equal the core kernel's, slab for slab
    val others = (5000 until 6000).map(i => (s"other-$i", i % 2))
    val viaCogroup = statsOf(BloomPipeline.fpStatsSharded(
      others.toDF("movieId", "rating"), filters))
      .map { case (rating, (h, t, _)) => rating -> ((h, t)) }
    assert(viaCogroup === recount(others, filters))
    // a probe group with no filter is skipped, not crashed (§2.6)
    val alien = Seq(("x", 9)).toDF("movieId", "rating")
    assert(BloomPipeline.fpStatsSharded(alien, filters).collect().isEmpty)
  }

  test("fpStatsSharded: per-rating (fp, total, rate) equals a driver-side " +
      "recount row for row") {
    val train = ratings(4000, 2)
    val filters = BloomPipeline.buildShardedFilters(train, p, maxSlabBits = 2048)
    val probes = (8000 until 11000).map(i => (s"probe-$i", i % 2))
    val viaCogroup = statsOf(BloomPipeline.fpStatsSharded(
      probes.toDF("movieId", "rating"), filters))
    val expected = recount(probes, filters).map { case (rating, (fp, t)) =>
      rating -> ((fp, t, fp.toDouble / t))
    }
    assert(viaCogroup === expected)
    assert(viaCogroup.keySet === Set(0, 1))
    viaCogroup.values.foreach { case (_, t, _) => assert(t === 1500L) }
    // members through the FP face: rate is exactly 1.0 (zero FN)
    val own = statsOf(BloomPipeline.fpStatsSharded(train, filters))
    own.values.foreach { case (fp, t, rate) =>
      assert(fp === t && rate === 1.0)
    }
  }

  test("cogroup probe fails loudly on duplicate slab rows (ADVICE r14)") {
    val train = ratings(2000, 2)
    val filters = BloomPipeline.buildShardedFilters(train, p, maxSlabBits = 2048)
      .persist()
    try {
      val doubled = filters.unionByName(filters)
      val ex = intercept[Exception] {
        BloomPipeline.fpStatsSharded(train, doubled).collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("duplicate slab rows")),
        s"unexpected failure: $ex")
    } finally { filters.unpersist(false); () }
  }
}
