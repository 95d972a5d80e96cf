package graft

import org.apache.spark.storage.StorageLevel

/** Cache-ownership lifecycle ([[CacheScope]], VERDICT r13 ask #6): loan
  * releases on exit (success and failure), owns/release frees exactly the
  * registered dependencies, transfer follows a post-processed result. */
class CacheScopeSpec extends SparkSuite {
  import spark.implicits._

  test("loan persists for the body and unpersists after, even on throw") {
    val df = (1 to 10).toDF("x")
    var seenLevel: StorageLevel = StorageLevel.NONE
    CacheScope.loan(df) { c =>
      c.count()
      seenLevel = c.storageLevel
    }
    assert(seenLevel !== StorageLevel.NONE)
    assert(df.storageLevel === StorageLevel.NONE)
    val df2 = (1 to 10).toDF("y")
    intercept[RuntimeException] {
      CacheScope.loan(df2) { c => c.count(); throw new RuntimeException("x") }
    }
    assert(df2.storageLevel === StorageLevel.NONE)
  }

  test("owns/release frees the registered dependency") {
    val dep = (1 to 100).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    dep.count()
    val result = CacheScope.owns(dep.select(col("x") * 2), dep)
    assert(result.count() === 100)
    assert(dep.storageLevel !== StorageLevel.NONE)
    CacheScope.release(result)
    assert(dep.storageLevel === StorageLevel.NONE)
    CacheScope.release(result) // idempotent
  }

  test("release on an unregistered result is a no-op") {
    CacheScope.release((1 to 3).toDF("x"))
  }

  test("transfer moves ownership to the derived result") {
    val dep = (1 to 50).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    dep.count()
    val mid = CacheScope.owns(dep.select(col("x") + 1), dep)
    val fin = CacheScope.transfer(mid, mid.select(col("(x + 1)").as("y")))
    CacheScope.release(mid) // ownership moved: releasing mid frees nothing
    assert(dep.storageLevel !== StorageLevel.NONE)
    CacheScope.release(fin)
    assert(dep.storageLevel === StorageLevel.NONE)
  }

  test("persist-and-return operators register their cache ownership") {
    val df = (1 to 40).map(i => (i.toLong, i % 7)).toDF("id", "k")
    val (ranked, total) = graft.operators.Ranks.withGlobalRank(
      df, Seq(col("k"), col("id")), "r")
    assert(total === 40)
    assert(ranked.count() === 40)
    val before = spark.sparkContext.getPersistentRDDs.size
    CacheScope.release(ranked)
    assert(spark.sparkContext.getPersistentRDDs.size < before ||
      before === 0)
    // the pair finders: one release(result) frees every relation each
    // persisted (shingle base, shingle index, scored or survivor pairs)
    val words = (1 to 40).map(i => s"w$i")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, (words.take(38) :+ "changed").mkString(" ")),
      (3L, (1 to 40).map(i => s"z$i").mkString(" ")),
      (4L, words.mkString(" ")))
      .toDF("doc_id", "text")
    import graft.operators.Dedup
    val leaking = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "jaccardPairsExact" -> (Dedup.jaccardPairsExact(_, 0.8)),
      "containmentPairs" -> (Dedup.containmentPairs(_, 0.8)),
      "simhashPairs" -> (Dedup.simhashPairs(_))).filter { case (name, op) =>
      spark.catalog.clearCache()
      val cached = spark.sparkContext.getPersistentRDDs.size
      val pairs = op(docs)
      assert(pairs.count() > 0, name)
      CacheScope.release(pairs)
      spark.sparkContext.getPersistentRDDs.size != cached
    }.map(_._1)
    assert(leaking.isEmpty, "left a persisted relation without an owner")
    spark.catalog.clearCache()
  }

  test("self-ownership: owns(res, res) releases res itself without an " +
      "immortal registry entry") {
    val res = (1 to 20).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    res.count()
    assert(CacheScope.owns(res, res) eq res)
    assert(res.storageLevel !== StorageLevel.NONE)
    CacheScope.release(res)
    assert(res.storageLevel === StorageLevel.NONE)
    CacheScope.release(res) // idempotent
    // transfer of a self-owning result moves it to an ordinary dep
    val res2 = (1 to 20).toDF("y").persist(StorageLevel.MEMORY_AND_DISK)
    res2.count()
    CacheScope.owns(res2, res2)
    val derived = CacheScope.transfer(res2, res2.select(col("y") + 1))
    CacheScope.release(res2) // ownership moved: frees nothing
    assert(res2.storageLevel !== StorageLevel.NONE)
    CacheScope.release(derived)
    assert(res2.storageLevel === StorageLevel.NONE)
  }

  test("graph persist-and-return lanes register ownership: one release " +
      "frees the final iterative cache (VERDICT r14 #7)") {
    spark.catalog.clearCache()
    // events(ts nanos LONG, event_id, user_id, ...) — the GraphSpec
    // fixture shape; one hour bucket -> consecutive-pair edges
    val events = Seq(10L, 20L, 10L, 30L).zipWithIndex.map {
      case (u, i) => (1000000000L * i, i.toLong, u, "c", 1.0, "{}")
    }.toDF("ts", "event_id", "user_id", "event_type", "value", "props")
    val base = (1 to 40).map(i => s"w$i")
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, (base.take(38) :+ "changed").mkString(" ")),
      (3L, (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    import graft.operators.{Dedup, Graph}
    val lanes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pagerank" -> (() => Graph.pagerank(events, iters = 2)),
      "personalizedPagerank" -> (() =>
        Graph.personalizedPagerank(events, col("node") === 10L, iters = 2)),
      "labelPropagation" -> (() => Graph.labelPropagation(events, iters = 2)),
      "connectedComponents" -> (() => Graph.connectedComponents(events)),
      "bfsHops" -> (() => Graph.bfsHops(events, col("node") === 10L, hops = 2)),
      "kCore" -> (() => Graph.kCore(events, k = 1, rounds = 2)),
      "hits" -> (() => Graph.hits(events, iters = 2)),
      "degrees" -> (() => Graph.degrees(events)),
      "triangles" -> (() => Graph.triangles(events)),
      "clusteringCoefficient" -> (() => Graph.clusteringCoefficient(events)),
      "neighborJaccard" -> (() => Graph.neighborJaccard(events)),
      "reciprocity" -> (() => Graph.reciprocity(events)),
      "assortativity" -> (() => Graph.assortativity(events)),
      "nearDupClusters" -> (() => Dedup.nearDupClusters(docs)))
    lanes.foreach { case (name, lane) =>
      val result = lane()
      assert(result.count() > 0, name)
      CacheScope.release(result)
      val leaked = spark.sparkContext.getPersistentRDDs
      assert(leaked.isEmpty,
        s"$name release left ${leaked.size} persisted RDD(s) behind")
      spark.catalog.clearCache()
    }
  }

  test("composed dedup operators leave no unowned persists behind: one " +
      "release(result) frees the whole chain (ADVICE r14)") {
    spark.catalog.clearCache()
    val base = (1 to 40).map(i => s"w$i")
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, (base.take(38) :+ "changed").mkString(" ")),
      (3L, (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup.keepBest(docs, threshold = 0.8)
    assert(kept.count() === 3)
    CacheScope.release(kept)
    // keepBest -> nearDupClusters -> minhashLshPairs: the inner persists
    // (shingle base, scored pairs, final labels) must all be freed by the
    // one release — nothing cached may survive but blocks another test
    // legitimately owns (none here: we released everything we made)
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty,
      s"composed release left ${leaked.size} persisted RDD(s) behind")
    spark.catalog.clearCache()
  }

  test("corpusPrep (pipe5): the full composed chain — scored pass, " +
      "cluster labels, prefix-scan base — frees on ONE release(result) " +
      "(VERDICT r15 ask #7)") {
    spark.catalog.clearCache()
    val base = (1 to 40).map(i => s"w$i")
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, (base.take(38) :+ "changed").mkString(" ")),
      (3L, (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "orthogonal benchmark text nothing shares"))
      .toDF("doc_id", "text")
    val packed = graft.operators.Dedup.corpusPrep(docs, bench,
      minQuality = 0.0)
    assert(packed.count() > 0)
    CacheScope.release(packed)
    // corpusPrep -> (qualityScore persist) + nearDupClusters'
    // inner persists + Ranks.withPrefixSums' sorted base: the transfer
    // chain must route every one of them through the single release
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty,
      s"corpusPrep release left ${leaked.size} persisted RDD(s) behind")
    spark.catalog.clearCache()
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
