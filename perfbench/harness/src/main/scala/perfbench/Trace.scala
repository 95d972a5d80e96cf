package perfbench

import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._

/** One span: a timed interval at one layer boundary. Times are epoch
  * microseconds, so spans from the listener (Spark reports epoch
  * milliseconds) and from the benchmark's own clock line up. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double]) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** Spans kept in memory and written out once, when the run ends.
  *
  * The hierarchy is benchmark -> pass -> step -> Spark job. A step is one
  * stage of the paper pipeline or one registered query. Before a step
  * runs, its span id is set as a Spark local property; the listener reads
  * it back from each job's start event and uses it as the job's parent. */
final class Trace(sc: SparkContext) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val prop = "perfbench.span"
  private val epochOffsetUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000

  private def nowUs: Long = System.nanoTime() / 1000 + epochOffsetUs

  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Runs `body` inside a span; the span is recorded even if `body` throws. */
  def span[T](parent: Long, layer: String, name: String)(body: Long => T): T = {
    val id = newId()
    val before = sc.getLocalProperty(prop)
    sc.setLocalProperty(prop, id.toString)
    val t0 = nowUs
    try body(id)
    finally {
      val t1 = nowUs
      sc.setLocalProperty(prop, before)
      synchronized(spans += Span(id, parent, layer, name, t0, t1, Map.empty))
    }
  }

  /** Adds a span measured elsewhere (the microbenchmarks). */
  def record(parent: Long, layer: String, name: String, seconds: Double,
      attrs: Map[String, Double]): Unit = {
    val t1 = nowUs
    synchronized(spans += Span(newId(), parent, layer, name,
      t1 - (seconds * 1e6).toLong, t1, attrs))
  }

  // --- the Spark listener: one span per job, with its stages' and tasks'
  // metrics summed into the span's attributes ---

  private final class Job(val id: Long, val parent: Long, val name: String,
      val startUs: Long) {
    val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(prop)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = new Job(newId(), parent, s"job ${e.jobId}", e.time * 1000)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  private def add(stageId: Int, key: String, v: Double): Unit =
    stageJob.get(stageId).flatMap(jobs.get).foreach(j => j.sum(key) += v)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(e.stageInfo.stageId, "stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = e.stageId
    add(s, "tasks", 1)
    if (e.reason != Success) add(s, "task_failures", 1)
    Option(e.taskMetrics).foreach { m =>
      val mb = 1024.0 * 1024.0
      add(s, "executor_cpu_s", m.executorCpuTime / 1e9)
      add(s, "executor_run_s", m.executorRunTime / 1e3)
      add(s, "gc_s", m.jvmGCTime / 1e3)
      add(s, "shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead) / mb)
      add(s, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
      add(s, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      spans += Span(j.id, j.parent, "spark", j.name, j.startUs, e.time * 1000,
        j.sum.toMap + ("jobs" -> 1.0))
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.GraftBus.drain(sc, 10000): Unit

  /** Spans as JSON lines. */
  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startUs).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
      out.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": ${Json.str(s.layer)}, """ +
        s""""name": ${Json.str(s.name)}, "start_us": ${s.startUs}, "end_us": ${s.endUs}, """ +
        s""""attrs": {${attrs.mkString(", ")}}}""")
    }
    finally out.close()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Spark-layer metrics of the traced passes, each the median over passes. */
object Layers {
  private val sums = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_failures" -> "count", "executor_cpu_s" -> "s", "executor_run_s" -> "s",
    "gc_s" -> "s", "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB")

  /** Total length of the union of intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((total, end), (s, e)) =>
      if (e <= end) (total, end)
      else (total + e - math.max(s, end), e)
    }._1

  /** Counts and executor times sum over the jobs under a pass's steps.
    * `driver_only_s` is step time in which none of the step's jobs ran;
    * `core_busy_ratio` is executor run time over step time times cores. */
  def spark(spans: Seq[Span], passes: Seq[Long], cores: Int): Seq[(String, (Double, String))] = {
    val children = spans.groupBy(_.parent).withDefaultValue(Nil)
    val perPass = passes.map { pass =>
      val steps = children(pass).filter(_.layer == "step")
      val jobs = steps.flatMap(s => children(s.id)).filter(_.layer == "spark")
      val stepSeconds = steps.map(_.seconds).sum
      val jobSeconds = steps.map { s =>
        covered(children(s.id).filter(_.layer == "spark")
          .map(j => (math.max(j.startUs, s.startUs), math.min(j.endUs, s.endUs)))
          .filter { case (a, b) => b > a }) / 1e6
      }.sum
      val total = sums.map { case (k, _) => k -> jobs.map(_.attrs.getOrElse(k, 0.0)).sum }.toMap
      total ++ Map(
        "driver_only_s" -> (stepSeconds - jobSeconds),
        "core_busy_ratio" -> total("executor_run_s") / (stepSeconds * cores))
    }
    (sums ++ Seq("driver_only_s" -> "s", "core_busy_ratio" -> "ratio")).map { case (k, unit) =>
      s"spark.$k" -> (Main.median(perPass.map(_(k))), unit)
    }
  }
}
