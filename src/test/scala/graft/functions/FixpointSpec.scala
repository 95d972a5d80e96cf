package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Millis, Span}

/** The loop mechanics every iterative operator runs through
  * ([[Fixpoint]]): the bounded metric wait, the round session's conf
  * inheritance, and the round/convergence/cache contract of `iterate`. */
class FixpointSpec extends SparkSuite with TimeLimits {
  import spark.implicits._

  test("a metric that never arrives is computed over the round relation " +
      "within the bound") {
    // an Observation never attached to any plan: an unbounded get() would
    // block forever (the signaler interrupts it, so a regression fails
    // instead of hanging); the bounded read falls back to one explicit job
    implicit val signaler: Signaler = ThreadSignaler
    val obs = Observation()
    val df = spark.range(1, 101).toDF("label")
    val bound = Span((Fixpoint.MetricWait.toMillis + 20000L).toDouble, Millis)
    val v = failAfter(bound) {
      Fixpoint.observed(obs, df, sum(col("label").cast("decimal(28,0)")))
    }
    assert(v === new java.math.BigDecimal(5050))
  }

  test("step returns the observed metric and leaves the round persisted") {
    val r = Fixpoint.rounds(spark, 10)
    val s = r.step(spark.range(1, 11).toDF("label"), Fixpoint.labelSum)
    assert(s.value === new java.math.BigDecimal(55))
    assert(s.state.storageLevel !== StorageLevel.NONE)
    s.state.unpersist(true)
  }

  test("a step materializes its round with one Spark job") {
    // a count() would add a job per stage of its own aggregate
    val r = Fixpoint.rounds(spark, 1000)
    val narrow = spark.range(0, 1000).toDF("label")
    val (s1, narrowJobs) = jobsOf(r.step(narrow, Fixpoint.labelSum))
    assert(s1.value === new java.math.BigDecimal(499500))
    assert(narrowJobs === 1, "jobs fired by a step over a narrow body")
    // an exchange in the body is one more job (adaptive execution runs
    // each shuffle stage as its own job), and nothing else is
    val grouped = narrow.groupBy((col("label") % 10).as("node"))
      .agg(count(lit(1)).as("label"))
    val (s2, groupedJobs) = jobsOf(r.step(grouped, Fixpoint.labelSum,
      release = Seq(s1.state)))
    assert(s2.value === new java.math.BigDecimal(1000))
    assert(groupedJobs === 2, "jobs fired by a step over a one-exchange body")
    // the persisted round serves later reads without recomputing it
    assert(s2.state.storageLevel !== StorageLevel.NONE)
    assert(jobsOf(s2.state.collect())._2 === 1)
    s2.state.unpersist(true)
  }

  test("round sessions keep the outer session's runtime SQL confs") {
    val outer = spark.newSession()
    outer.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val r = Fixpoint.rounds(outer, 10)
    assert(r.width === 1)
    assert(r.session ne outer, "a 10-row state narrows the rounds")
    assert(r.session.conf.get("spark.sql.autoBroadcastJoinThreshold") === "-1")
    assert(r.session.sessionState.conf.numShufflePartitions === r.width)
    // the outer session itself is untouched
    assert(outer.sessionState.conf.numShufflePartitions ===
      spark.sessionState.conf.numShufflePartitions)
  }

  test("iterate reports rounds and convergence; only the final state stays " +
      "persisted") {
    spark.catalog.clearCache()
    val base = spark.sparkContext.getPersistentRDDs.size
    // every label falls to 1 in round 1; round 2 changes nothing
    val init = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("node", "label")
      .persist()
    init.count()
    val r = Fixpoint.rounds(spark, 3)
    val seen = scala.collection.mutable.ArrayBuffer.empty[
      (Int, org.apache.spark.sql.DataFrame, Option[java.math.BigDecimal])]
    val res = r.iterate(r.rebase(init), 10, Fixpoint.labelSum,
        initCaches = Seq(init)) { (cur, n, prev) =>
      seen += ((n, cur, prev))
      Fixpoint.Round(cur.select(col("node"), least(col("label"), lit(1L))
        .as("label")))
    }(Fixpoint.sameSum)
    assert(res.rounds === 2)
    assert(res.converged)
    assert(seen.map(_._1) === Seq(1, 2))
    // each body gets its state's metric: none known for init, then
    // round 1's observed label sum
    assert(seen.map(_._3) === Seq(None, Some(new java.math.BigDecimal(3))))
    assert(res.state.as[(Long, Long)].collect().sorted ===
      Array((1L, 1L), (2L, 1L), (3L, 1L)))
    assert(init.storageLevel === StorageLevel.NONE)
    assert(seen(1)._2.storageLevel === StorageLevel.NONE, "round 1 state")
    assert(res.caches === Seq(res.state))
    assert(res.state.storageLevel !== StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.size === base + 1)
    // a cap below the fixed point stops unconverged
    val capped = r.iterate(init, 1, Fixpoint.labelSum) { (cur, _, _) =>
      Fixpoint.Round(cur.select(col("node"), least(col("label"), lit(1L))
        .as("label")))
    }(Fixpoint.sameSum)
    assert(capped.rounds === 1)
    assert(!capped.converged)
    spark.catalog.clearCache()
  }
}
