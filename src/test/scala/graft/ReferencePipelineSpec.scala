package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{BloomPipeline, FilterStore, Ingest, Ratings}

/** End-to-end run of the reference's 4-job workflow on a synthetic IMDb
  * ratings TSV, asserting the FP-table contract. */
class ReferencePipelineSpec extends SparkSuite {

  private val p = 0.1

  private lazy val tsvDir = {
    val rnd = new scala.util.Random(11)
    val lines = "movieId\taverageRating\tnumVotes" +:
      (1 to 20000).map { i =>
        val rating = 1 + rnd.nextInt(10) // 1..10 like IMDb rounded
        f"tt$i%07d\t$rating%d.0\t${1 + rnd.nextInt(5000)}"
      } :+ "ttBROKEN\tnot_a_number\t3"
    val dir = Files.createTempDirectory("graft_refpipe_tsv")
    Files.write(dir.resolve("ratings.tsv"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    dir.toString
  }

  /** One pipeline run shared by the tests below: its report, output dir,
    * the persistent RDDs it left behind, every executed plan, the input
    * records its tasks read, and the Spark jobs it fired. */
  private case class Run(report: Seq[String], outDir: String,
      leftPersisted: Set[Int], plans: Seq[SparkPlan], recordsRead: Long,
      jobs: Int)

  private lazy val pipeline = {
    val outDir = Files.createTempDirectory("graft_refpipe_out").toString
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val recordsRead = new AtomicLong
    val taskListener = new SparkListener {
      override def onTaskEnd(end: SparkListenerTaskEnd): Unit =
        Option(end.taskMetrics).foreach(m => recordsRead.addAndGet(m.inputMetrics.recordsRead))
    }
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(taskListener)
    val ledger = new QueryLedger(spark.sparkContext)
    ledger.open()
    val (report, jobs) =
      try {
        val report = ReferencePipeline.run(spark, tsvDir, p, outDir)
        (report, ledger.close(0.0).jobs)
      } finally {
        GraftBus.drain(spark.sparkContext, 60000L)
        spark.sparkContext.removeSparkListener(ledger)
        spark.sparkContext.removeSparkListener(taskListener)
        spark.listenerManager.unregister(listener)
      }
    Run(report, outDir,
      spark.sparkContext.getPersistentRDDs.keySet.diff(persistedBefore).toSet,
      plans.synchronized(plans.toList), recordsRead.get, jobs)
  }

  /** Every node of an executed plan, through AQE wrappers, query stages,
    * reused exchanges, command results and subqueries. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case other => other.children ++ other.subqueries
  }).flatMap(nodes)

  private def dataRows(report: Seq[String]): Seq[String] = report.drop(2)

  private def textLines(path: String): Seq[String] =
    spark.read.text(path).collect().toSeq.map(_.getString(0))

  test("4-job lifecycle: split -> linecount -> build+persist -> reload+probe") {
    val Run(report, outDir, _, _, _, _) = pipeline

    assert(report.head.contains("ingested=20001"))
    assert(report.head.contains("corrupt_dropped=1"))
    val rows = dataRows(report).map(_.split("\t"))
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.map(_(0).toInt) === rows.map(_(0).toInt).sorted, "report is by rating")
    rows.foreach { r =>
      val (fp, total, rate) = (r(1).toLong, r(2).toLong, r(3).toDouble)
      assert(total > 0)
      assert(fp <= total)
      // disjoint split + integer ratings: probes of the SAME rating value
      // exist in train, so they all hit (same key space) — here movieIds
      // are unique, so observed rate is a genuine FP rate near p
      assert(rate < 4 * p, s"rating ${r(0)}: fpRate $rate")
    }

    // artifacts exist: single-file linecount text, filter parquet, results
    assert(Files.list(Paths.get(s"$outDir/linecount"))
      .iterator().hasNext)
    assert(spark.read.parquet(s"$outDir/filters").count() === rows.length.toLong)
    val results = spark.read.text(s"$outDir/results").count()
    assert(results === rows.length.toLong)
  }

  test("results text holds exactly the report's data rows, in one part file") {
    val Run(report, outDir, _, _, _, _) = pipeline
    val parts = Files.list(Paths.get(s"$outDir/results")).iterator()
    var textParts = 0
    parts.forEachRemaining(f => if (f.getFileName.toString.startsWith("part-")) textParts += 1)
    assert(textParts === 1)
    // the text keeps the aggregate's partition order; the report is by rating
    val results = textLines(s"$outDir/results")
    assert(results.sortBy(_.split("\t")(0).toInt) === dataRows(report))
  }

  test("per rating, (falsePositives, total) == join-form fpStats on the same artifact") {
    val Run(report, outDir, _, _, _, _) = pipeline
    val test = Ratings.randomSplit(Ingest.readRatingsTsv(spark, tsvDir), seed = 42L)(1)
    val joined = BloomPipeline.fpStats(test, FilterStore.load(spark, s"$outDir/filters"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val reported = dataRows(report).map(_.split("\t"))
      .map(f => f(0).toInt -> (f(1).toLong, f(2).toLong)).toMap
    assert(reported === joined)
  }

  test("linecount text == independent linecount(train) == each saved filter's n") {
    val Run(_, outDir, _, _, _, _) = pipeline
    val train = Ratings.randomSplit(Ingest.readRatingsTsv(spark, tsvDir), seed = 42L)(0)
    val independent = BloomPipeline.linecount(train).collect()
      .map(r => s"${r.getInt(0)}\t${r.getLong(1)}").sorted.toSeq
    val text = textLines(s"$outDir/linecount")
    assert(text.sorted === independent)
    val counts = text.map(_.split("\t")).map(f => f(0).toInt -> f(1).toLong).toMap
    val saved = FilterStore.load(spark, s"$outDir/filters").collect()
      .map(r => r.getAs[Int]("rating") -> r.getAs[Long]("n")).toMap
    assert(saved === counts)
  }

  test("the ratings input is read once: task records read < 2x the ingested rows") {
    val Run(report, _, _, _, recordsRead, _) = pipeline
    val rows = report.head.split(" ").head.stripPrefix("ingested=").toLong
    assert(recordsRead > 0, "the listener saw no input records")
    assert(recordsRead < 2 * rows, s"tasks read $recordsRead records for $rows ingested rows")
  }

  test("per rating, the collected probe of the reloaded artifact == the report") {
    val Run(report, outDir, _, _, _, _) = pipeline
    val test = Ratings.randomSplit(Ingest.readRatingsTsv(spark, tsvDir), seed = 42L)(1)
    val filters = spark.sparkContext.broadcast(
      BloomPipeline.collectFilters(FilterStore.load(spark, s"$outDir/filters")))
    val reloaded =
      try BloomPipeline.fpStatsCollected(test, filters).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      finally filters.destroy()
    val reported = dataRows(report).map(_.split("\t"))
      .map(f => (f(0).toInt, f(1).toLong, f(2).toLong))
    assert(reloaded === reported)
  }

  test("linecount and results: one part file of newline-ended lines, plus _SUCCESS") {
    val outDir = pipeline.outDir
    for (dir <- Seq("linecount", "results")) {
      val names = Files.list(Paths.get(s"$outDir/$dir")).iterator().asScala
        .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq.sorted
      val parts = names.filter(_.startsWith("part-"))
      assert(parts.size === 1 && names === "_SUCCESS" +: parts, s"$dir holds $names")
      val bytes = new String(Files.readAllBytes(Paths.get(s"$outDir/$dir", parts.head)),
        StandardCharsets.UTF_8)
      assert(bytes === textLines(s"$outDir/$dir").map(_ + "\n").mkString, dir)
    }
  }

  test("a run fires at most 9 Spark jobs") {
    assert(pipeline.jobs > 0, "the ledger saw no job")
    assert(pipeline.jobs <= 9, s"run fired ${pipeline.jobs} jobs")
  }

  test("run releases every relation it persisted") {
    assert(pipeline.leftPersisted.isEmpty,
      s"persistent RDDs left by run: ${pipeline.leftPersisted.mkString(", ")}")
  }

  test("no executed plan joins a relation carrying the filter bits") {
    val all = pipeline.plans.flatMap(nodes)
    val joins = all.collect { case j: BaseJoinExec => j }
    // the walk reaches joins at all: buildSized's geometry join is one
    assert(joins.nonEmpty, s"no join seen in ${pipeline.plans.size} plans")
    val bitsJoins = joins.filter(_.children.exists(_.output.exists(_.name == "bits")))
    assert(bitsJoins.map(_.nodeName) === Nil, "joins against a relation carrying bits")
  }

  test("p outside (0, 1) fails before any job or output") {
    for (bad <- Seq(0.0, 1.0, -0.5, Double.NaN)) {
      val outDir = Files.createTempDirectory("graft_refpipe_bad").resolve("out")
      val e = intercept[IllegalArgumentException](
        ReferencePipeline.run(spark, tsvDir, bad, outDir.toString))
      assert(e.getMessage.contains(s"p must be in (0,1), got $bad"))
      assert(!Files.exists(outDir), s"p=$bad wrote output before failing")
    }
  }
}
