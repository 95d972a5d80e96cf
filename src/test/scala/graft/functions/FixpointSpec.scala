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
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, org.apache.spark.sql.DataFrame)]
    val res = r.iterate(r.rebase(init), 10, Fixpoint.labelSum,
        initCaches = Seq(init)) { (cur, n) =>
      seen += ((n, cur))
      Fixpoint.Round(cur.select(col("node"), least(col("label"), lit(1L))
        .as("label")))
    }(Fixpoint.sameSum)
    assert(res.rounds === 2)
    assert(res.converged)
    assert(seen.map(_._1) === Seq(1, 2))
    assert(res.state.as[(Long, Long)].collect().sorted ===
      Array((1L, 1L), (2L, 1L), (3L, 1L)))
    assert(init.storageLevel === StorageLevel.NONE)
    assert(seen(1)._2.storageLevel === StorageLevel.NONE, "round 1 state")
    assert(res.caches === Seq(res.state))
    assert(res.state.storageLevel !== StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.size === base + 1)
    // a cap below the fixed point stops unconverged
    val capped = r.iterate(init, 1, Fixpoint.labelSum) { (cur, _) =>
      Fixpoint.Round(cur.select(col("node"), least(col("label"), lit(1L))
        .as("label")))
    }(Fixpoint.sameSum)
    assert(capped.rounds === 1)
    assert(!capped.converged)
    spark.catalog.clearCache()
  }
}
