package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The opt-in runtime bloom pre-filter rule (registered by
  * GraftExtensions via injectPreCBORule — the shared test session has it).
  */
class InjectBloomRuntimeFilterSpec extends SparkSuite {
  import spark.implicits._

  private def withRule[T](f: => T): T = {
    spark.conf.set("spark.graft.runtimeBloom.enabled", "true")
    spark.conf.set("spark.graft.runtimeBloom.maxBuildBytes", "1000000")
    spark.conf.set("spark.graft.runtimeBloom.minProbeBytes", "1")
    try f finally {
      spark.conf.set("spark.graft.runtimeBloom.enabled", "false")
    }
  }

  private val big = (1 to 20000).map(i => (s"k${i % 1000}", i)).toDF("key", "v")
  private val small = (0 until 10).map(i => (s"k$i", s"dim$i")).toDF("key", "attr")

  test("injects bloom_might_contain under the probe side; results unchanged") {
    val expected = big.join(small, "key").groupBy("key").count()
      .as[(String, Long)].collect().toMap
    val (got, plan) = withRule {
      val joined = big.join(small, "key").groupBy("key").count()
      (joined.as[(String, Long)].collect().toMap,
        joined.queryExecution.optimizedPlan.toString)
    }
    assert(got === expected)
    assert(plan.contains("bloom_might_contain"),
      s"expected injected probe in optimized plan:\n$plan")
  }

  test("left-semi joins get the filter too") {
    val expected = big.join(small, Seq("key"), "left_semi")
      .count()
    val (got, plan) = withRule {
      val j = big.join(small, Seq("key"), "left_semi")
      (j.count(), j.queryExecution.optimizedPlan.toString)
    }
    assert(got === expected)
    assert(plan.contains("bloom_might_contain"))
  }

  test("disabled by default: no injection") {
    val plan = big.join(small, "key").queryExecution.optimizedPlan.toString
    assert(!plan.contains("bloom_might_contain"))
  }

  test("enabled accepts true in any case") {
    spark.conf.set("spark.graft.runtimeBloom.enabled", "TRUE")
    spark.conf.set("spark.graft.runtimeBloom.maxBuildBytes", "1000000")
    spark.conf.set("spark.graft.runtimeBloom.minProbeBytes", "1")
    try {
      val plan = big.join(small, "key").queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_might_contain"))
    } finally spark.conf.set("spark.graft.runtimeBloom.enabled", "false")
  }

  test("a garbled conf fails planning with a message naming its key") {
    val bad = Seq(
      "enabled" -> "yes",
      "maxBuildBytes" -> "8m", "maxBuildBytes" -> "-1",
      "minProbeBytes" -> "x", "minProbeBytes" -> "-1",
      "fpp" -> "0", "fpp" -> "1", "fpp" -> "x")
    bad.foreach { case (k, v) =>
      val key = s"spark.graft.runtimeBloom.$k"
      spark.conf.set("spark.graft.runtimeBloom.enabled", "true")
      spark.conf.set(key, v)
      try {
        val e = intercept[Exception](
          big.join(small, "key").queryExecution.optimizedPlan)
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).toSeq
        assert(msgs.exists(m => m != null && m.contains(key)), s"$key=$v: $msgs")
      } finally {
        spark.conf.unset(key)
        spark.conf.set("spark.graft.runtimeBloom.enabled", "false")
      }
    }
  }

  test("no injection when the small side exceeds the build cap") {
    spark.conf.set("spark.graft.runtimeBloom.enabled", "true")
    spark.conf.set("spark.graft.runtimeBloom.maxBuildBytes", "1")
    try {
      val plan = big.join(small, "key").queryExecution.optimizedPlan.toString
      assert(!plan.contains("bloom_might_contain"))
    } finally spark.conf.set("spark.graft.runtimeBloom.enabled", "false")
  }
}
