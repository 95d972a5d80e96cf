package org.apache.spark

import graft.{QueryLedger, SparkSuite}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.functions.col

/** The per-query ledger on the shared session: a real run's record, and
  * synthetic listener events for what a local run cannot stage on demand
  * (overlapping jobs, a failed stage attempt). In this package because
  * `TaskMetrics`' setters are `private[spark]`. */
class QueryLedgerSpec extends SparkSuite {

  private def withLedger[T](body: QueryLedger => T): T = {
    val ledger = new QueryLedger(spark.sparkContext)
    try body(ledger) finally spark.sparkContext.removeSparkListener(ledger)
  }

  test("a window records the jobs, stages, executor time and shuffle of " +
      "a groupBy + collect") {
    withLedger { ledger =>
      ledger.open()
      val t0 = System.nanoTime()
      val rows = spark.range(0, 200000, 1, 4)
        .groupBy((col("id") % 97).as("k")).count().collect()
      val wall = (System.nanoTime() - t0) / 1e9
      val r = ledger.close(wall)
      assert(rows.length === 97)
      assert(r.jobs >= 1, r)
      assert(r.stages >= 2, r)
      assert(r.tasks >= r.stages, r)
      assert(r.taskFailures === 0, r)
      assert(r.shuffleWriteMB > 0, r)
      assert(r.executorCpuS > 0, r)
      assert(r.driverOnlyS >= 0 && r.driverOnlyS <= wall, s"$r, wall $wall")
      assert(r.complete, r)
    }
  }

  test("overlapping jobs count once in driver-only time; a failed stage " +
      "attempt counts as a stage but its bytes stay out") {
    withLedger { ledger =>
      def stage(attempt: Int, failed: Boolean): Unit = {
        val m = TaskMetrics.empty
        m.setExecutorCpuTime(1000000000L)
        m.shuffleWriteMetrics.incBytesWritten(1L << 20)
        m.incMemoryBytesSpilled(1L << 20)
        m.inputMetrics.incBytesRead(1L << 20)
        val si = new StageInfo(99999, attempt, "synthetic", 1, Seq.empty,
          Seq.empty, "", m, resourceProfileId = 0)
        if (failed) si.failureReason = Some("fetch failed")
        ledger.onStageCompleted(SparkListenerStageCompleted(si))
      }
      ledger.open()
      Thread.sleep(300)
      val now = System.currentTimeMillis()
      Seq((99998, now - 300, now - 100), (99999, now - 200, now)).foreach {
        case (id, start, end) =>
          ledger.onJobStart(SparkListenerJobStart(id, start, Seq.empty))
          ledger.onJobEnd(SparkListenerJobEnd(id, end, JobSucceeded))
      }
      stage(0, failed = true)
      stage(1, failed = false)
      val r = ledger.close(1.0)
      assert(r.jobs === 2)
      assert(math.abs(r.driverOnlyS - 0.7) < 1e-9, r)
      assert(r.stages === 2)
      assert(r.executorCpuS === 2.0) // both attempts' CPU was spent
      assert(r.shuffleWriteMB === 1.0)
      assert(r.spillMB === 1.0)
      assert(r.inputMB === 1.0)
      assert(r.complete)
    }
  }
}
