package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM runs one workload:
  *
  *  - set-up, three times: start a Spark session and generate the inputs;
  *  - one cold pass, the workload's untimed warm-up passes, then timed
  *    warm passes back to back (a closed loop with one caller) until
  *    `--seconds` have gone by, and at least three;
  *  - output checks after every pass.
  *
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1` it
  * adds a listener and spans, runs the kernel microbenchmarks, writes the
  * spans to `--spans` and prints the per-layer metrics. The last stdout
  * line is one JSON object. The exit code is 1 when any check failed.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --work <dir> [--spans <file>]` */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: String, spans: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("work"), m.getOrElse("spans", ""))
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val workload = Workloads.byName.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; known: ${Workloads.byName.keys.mkString(", ")}"))
    val ok = try run(a, workload) finally SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(if (ok) 0 else 1)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      // as in graft.Bench: the status store keeps every execution's plan
      // graph even with the UI off, and that accrual grows the heap and
      // the collections over a run; nothing here reads it back
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Releases what the previous pass left behind, before the clock starts:
    * cached tables and persisted RDDs (blocking), and dirty pages. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    new ProcessBuilder("sync").inheritIO().start().waitFor(): Unit
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9
  private val jit = ManagementFactory.getCompilationMXBean
  def jitSeconds: Double = jit.getTotalCompilationTime / 1e3
  private val classes = ManagementFactory.getClassLoadingMXBean
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Old-generation occupancy after a full collection, in MB. Taken once,
    * after the last warm pass and before the next hygiene, it is what a
    * pass leaves reachable. A collection after every pass would be the
    * same number, but it unloads generated classes and slows the passes
    * that follow. Spark frees broadcast and shuffle blocks from weak
    * references on its cleaner thread, so a second collection follows
    * the first once the cleaner has had time to run. */
  def oldGenAfterFullGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    oldGen.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def run(a: Args, w: Workload): Boolean = {
    new File(a.work).mkdirs()
    val checks = new Checks
    // --- set-up, three times; the last session and inputs are kept ---
    val setups = (1 to 3).map { i =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val spark = session(a)
      w.setup(spark, s"${a.work}/input-$i", a.seed)
      (System.nanoTime() - t0) / 1e9
    }
    val spark = SparkSession.active
    System.err.println(f"[perfbench] ${w.name}: setup ${setups.map(s => f"$s%.2f").mkString(" ")} s")

    var pass = 0
    def untraced(): Pass.Result = {
      pass += 1
      val (jit0, cls0, gc0) = (jitSeconds, classes.getTotalLoadedClassCount, gcSeconds)
      hygiene(spark)
      val r = w.pass(spark, s"${a.work}/pass-$pass", None)
      checks.pass(w, r)
      System.err.println(f"[perfbench] ${w.name}: pass $pass ${r.wall}%.3f s, cpu ${r.cpu}%.3f s, " +
        f"jit ${jitSeconds - jit0}%.2f s, classes +${classes.getTotalLoadedClassCount - cls0}, " +
        f"gc ${gcSeconds - gc0}%.2f s")
      r
    }
    val cold = untraced()
    for (_ <- 1 to w.warmups) untraced()
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      val t0 = System.nanoTime()
      val warm = mutable.ArrayBuffer(untraced())
      while (warm.size < 3 || (System.nanoTime() - t0) / 1e9 < a.seconds) warm += untraced()
      metrics ++= Seq(
        "setup_s" -> (median(setups), "s"),
        "first_pass_s" -> (cold.wall, "s"),
        "wall_s" -> (median(warm.map(_.wall).toSeq), "s"),
        "cpu_s" -> (median(warm.map(_.cpu).toSeq), "s"),
        "heap_after_gc_mb" -> (oldGenAfterFullGcMb(), "MB"),
        "success_rate" -> (1.0 - checks.failed.toDouble / checks.attempted, "ratio"))
    } else {
      // untraced and traced passes alternate in the order ABBA, so that the
      // warm-up still going on in the JVM lands on both sides of the
      // overhead estimate
      val trace = new Trace(spark.sparkContext)
      val root = 0L
      val t0 = System.nanoTime()
      val plain = mutable.ArrayBuffer.empty[Pass.Result]
      val traced = mutable.ArrayBuffer.empty[(Long, Pass.Result)]
      while (traced.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        if (traced.size % 2 == 0) plain += untraced()
        pass += 1
        spark.sparkContext.addSparkListener(trace)
        trace.span(root, "bench", "hygiene")(_ => hygiene(spark))
        val r = trace.span(root, "pass", s"${w.name} pass $pass") { id =>
          id -> w.pass(spark, s"${a.work}/pass-$pass", Some((trace, id)))
        }
        trace.drain()
        spark.sparkContext.removeSparkListener(trace)
        checks.pass(w, r._2)
        traced += r
        if (traced.size % 2 == 0) plain += untraced()
      }
      val layers = Layers.spark(trace.all, traced.map(_._1).toSeq, a.cores)
      val (micro, filter) = Micro.run(spark, w.microInput(spark, traced.last._2), trace, root)
      metrics ++= micro
      metrics ++= w.bloomFacts(spark, traced.last._2, filter)
      metrics ++= layers
      metrics += "trace.overhead_s" ->
        (median(traced.map(_._2.wall).toSeq) - median(plain.map(_.wall).toSeq), "s")
      if (a.spans.nonEmpty) trace.write(a.spans)
    }
    checks.report()
    val body = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }
    println(s"""{"correct": ${checks.failed == 0}, "attempted": ${checks.attempted}, """ +
      s""""failed": ${checks.failed}, "metrics": {${body.mkString(", ")}}}""")
    checks.failed == 0
  }
}
