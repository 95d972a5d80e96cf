package graft

import scala.collection.mutable

import org.apache.spark.{GraftBus, SparkContext, Success, TaskEndReason}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._

/** The per-query record of one timed run: what Spark did between
  * [[QueryLedger.open]] and [[QueryLedger.close]]. `Bench` opens the
  * window untimed just before the clock starts and closes it just after
  * the clock stops, for every measured run; the detail artifact carries
  * the record of each query's most recent measuring run.
  *
  * Field names follow the Spark layer of the repo benchmark (`jobs`,
  * `executor_cpu_s`, ...); the byte fields keep the detail artifact's
  * names (`shufReadMB` ... `outputMB`). Listener events arrive on the bus
  * thread while open/close run on the caller's, so all state is
  * synchronized, and both ends drain the bus first.
  */
object QueryLedger {

  /** One run's record. `driverOnlyS` is the wall in which no job of the
    * window ran: the wall minus the union of its job intervals, so
    * overlapping jobs are counted once. `complete` is false when a bus
    * drain timed out, i.e. events may be missing or leaked in. */
  final case class Record(jobs: Int, stages: Int, tasks: Int,
      taskFailures: Int, executorRunS: Double, executorCpuS: Double,
      gcS: Double, shuffleReadMB: Double, shuffleWriteMB: Double,
      spillMB: Double, inputMB: Double, outputMB: Double,
      driverOnlyS: Double, complete: Boolean) {

    /** The record as JSON members, to splice into an object. */
    def jsonFields: String = {
      def f1(d: Double) = f"$d%.1f".replace(",", ".")
      def f3(d: Double) = f"$d%.3f".replace(",", ".")
      s""""shufReadMB":${f1(shuffleReadMB)},"shufWriteMB":${f1(shuffleWriteMB)},""" +
      s""""spillMB":${f1(spillMB)},"inputMB":${f1(inputMB)},"outputMB":${f1(outputMB)},""" +
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_failures":$taskFailures,""" +
      s""""executor_run_s":${f3(executorRunS)},"executor_cpu_s":${f3(executorCpuS)},""" +
      s""""gc_s":${f3(gcS)},"driver_only_s":${f3(driverOnlyS)},"complete":$complete"""
    }
  }

  /** How long one end of the window waits for the bus to empty. */
  private val DrainMs = 2000L

  /** Total length of the union of `[start, end)` intervals. */
  private def covered(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((total, end), (s, e)) =>
      if (e <= end) (total, end) else (total + e - math.max(s, end), e)
    }._1
}

final class QueryLedger(sc: SparkContext) extends SparkListener {
  import QueryLedger._

  sc.addSparkListener(this)

  private var isOpen = false
  private var openMs = 0L
  private var openDrained = true
  private val running = mutable.HashMap.empty[Int, Long] // job -> start ms
  private val ended = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Completed stage attempts: failed?, their summed task metrics. */
  private val stages = mutable.ArrayBuffer.empty[(Boolean, TaskMetrics)]
  private val taskEnds = mutable.ArrayBuffer.empty[TaskEndReason]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { if (isOpen) running(e.jobId) = e.time }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { running.remove(e.jobId).foreach(s => ended += (s -> e.time)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    if (isOpen && si.taskMetrics != null) stages += (si.failureReason.isDefined -> si.taskMetrics)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized { if (isOpen) taskEnds += e.reason }

  /** Opens a fresh window. The previous run's late events are drained
    * first, so they cannot land in this one. */
  def open(): Unit = {
    val drained = GraftBus.drain(sc, DrainMs)
    synchronized {
      running.clear(); ended.clear(); stages.clear(); taskEnds.clear()
      openDrained = drained
      openMs = System.currentTimeMillis()
      isOpen = true
    }
  }

  /** Closes the window once the bus has delivered its events, and
    * returns its record for a run of `wallSec` timed seconds.
    *
    * Failed stage attempts count as stages and their executor time is
    * spent, but their bytes stay out of the byte totals: those present
    * plan-determined exchange volume, which a retry would double-count.
    * The successful re-attempt of a retried stage counts once. */
  def close(wallSec: Double): Record = {
    val drained = GraftBus.drain(sc, DrainMs)
    synchronized {
      isOpen = false
      val closeMs = System.currentTimeMillis()
      val spans = (ended ++ running.values.map(_ -> closeMs)).toSeq
        .map { case (s, e) => (math.max(s, openMs), math.min(e, closeMs)) }
        .filter { case (s, e) => e > s }
      val all = stages.map(_._2)
      val ok = stages.collect { case (false, m) => m }
      def sum(ms: Iterable[TaskMetrics])(f: TaskMetrics => Long): Long =
        ms.iterator.map(f).sum
      val mb = 1024.0 * 1024.0
      Record(
        jobs = ended.size + running.size,
        stages = stages.size,
        tasks = taskEnds.size,
        taskFailures = taskEnds.count(_ != Success),
        executorRunS = sum(all)(_.executorRunTime) / 1e3,
        executorCpuS = sum(all)(_.executorCpuTime) / 1e9,
        gcS = sum(all)(_.jvmGCTime) / 1e3,
        shuffleReadMB = sum(ok)(_.shuffleReadMetrics.totalBytesRead) / mb,
        shuffleWriteMB = sum(ok)(_.shuffleWriteMetrics.bytesWritten) / mb,
        spillMB = sum(ok)(m => m.memoryBytesSpilled + m.diskBytesSpilled) / mb,
        inputMB = sum(ok)(_.inputMetrics.bytesRead) / mb,
        outputMB = sum(ok)(_.outputMetrics.bytesWritten) / mb,
        driverOnlyS = (wallSec - covered(spans) / 1e3).max(0.0).min(wallSec),
        complete = openDrained && drained)
    }
  }
}
