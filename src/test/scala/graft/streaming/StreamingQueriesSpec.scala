package graft.streaming

import graft.{CleanExit, SparkSuite}
import graft.operators.Tables
import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import scala.concurrent.duration._

class StreamingQueriesSpec extends SparkSuite with TimeLimits
    with BeforeAndAfterAll {

  // close the drained streams' RocksDB providers while the JVM is healthy
  override def afterAll(): Unit =
    try CleanExit.stopStateStores() finally super.afterAll()

  /** A file stream over a tiny one-file parquet source. */
  private def tinyStream(tag: String): DataFrame = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_drain_spec_$tag"
    spark.range(10).toDF("id").write.mode("overwrite").parquet(path)
    spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
  }

  test("drain stops a stream that overruns its wait and fails naming it") {
    implicit val signaler: Signaler = ThreadSignaler
    val name = "drain_spec_overrun"
    // the micro-batch sleeps far past the wait: only the drain's bound
    // (and its stop) can end this within the test's limit
    val e = failAfter(Span(60, Seconds)) {
      intercept[java.util.concurrent.TimeoutException] {
        StreamingQueries.drain(name, tinyStream("overrun").writeStream
          .foreachBatch { (_: DataFrame, _: Long) => Thread.sleep(600000L) },
          wait = 2.seconds)
      }
    }
    assert(e.getMessage.contains(name), e.getMessage)
    assert(spark.streams.active.isEmpty)
  }

  test("a micro-batch that throws fails the drain naming the stream") {
    val name = "drain_spec_failing"
    val e = intercept[Exception] {
      StreamingQueries.drain(name, tinyStream("failing").writeStream
        .foreachBatch { (_: DataFrame, id: Long) =>
          if (id >= 0) throw new IllegalStateException("micro-batch failed")
        })
    }
    assert(e.getMessage.contains(name), e.getMessage)
    assert(spark.streams.active.isEmpty)
  }

  test("eventHourly stream reproduces the batch answer exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.eventHourly(spark, dir).collect()
    assert(streamed.nonEmpty)

    import org.apache.spark.sql.functions._
    val batch = Tables(spark, dir, "events")
      .select(date_format(timestamp_micros(expr("ts div 1000")),
        "yyyy-MM-dd HH:00").as("hour"), col("event_type"))
      .groupBy("hour", "event_type").agg(count("*").as("n"))
      .orderBy("hour", "event_type")
      .collect()

    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("dedupState stream matches the batch distinct count") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val row = StreamingQueries.dedupState(spark, dir).head()
    val batch = Tables(spark, dir, "documents")
      .agg(count("*"),
        countDistinct(graft.operators.TextAnalysis.normalized(col("text")))).head()
    assert(row.getLong(0) === batch.getLong(0))
    assert(row.getLong(1) === batch.getLong(1))
  }

  test("streamDropDuplicates collapses a doubled stream to the batch row set") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val streamed = StreamingQueries.streamDropDuplicates(spark, dir).collect()
    val batch = Tables(spark, dir, "events")
      .groupBy("event_type").agg(count("*").as("n"))
      .orderBy("event_type").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("left-outer stream-stream join: null row emits iff window end <= watermark") {
    // Pins the eviction boundary the st8 oracle encodes: with watermark
    // delay 1h and join window [c, c+1h), a click whose window END equals
    // the final global watermark (max event time - delay) DOES emit its
    // null row; a click whose window end is past the watermark stays in
    // state, unemitted.
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)

    val clicks = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val c = clicks.toDF.toDF("click_user", "click_time")
      .withWatermark("click_time", "1 hour")
    val p = purchases.toDF.toDF("purchase_user", "purchase_time")
      .withWatermark("purchase_time", "1 hour")
    val joined = c.join(p,
      col("click_user") === col("purchase_user")
        && col("purchase_time") >= col("click_time")
        && col("purchase_time") < col("click_time") + expr("INTERVAL 1 HOUR"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("st8_boundary")
      .outputMode("append").start()
    try {
      clicks.addData((1L, ts("2026-01-01 10:00:00")),  // window end 11:00
        (2L, ts("2026-01-01 10:30:00")),               // window end 11:30
        (3L, ts("2026-01-01 12:00:00")))               // advances click wm
      purchases.addData((99L, ts("2026-01-01 12:00:00"))) // advances p wm
      q.processAllAvailable() // final global watermark = 11:00
      val rows = spark.table("st8_boundary")
        .select("click_user", "purchase_user").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      assert(rows.toSet === Set((1L, -1L)),
        s"expected exactly click 1's null row, got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("transformWithState MapState deltas sum to the batch per-type counts") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val streamed = StreamingQueries.transformWithStateCounts(spark, dir).collect()
    val batch = Tables(spark, dir, "events")
      .groupBy("user_id", "event_type").agg(count("*").as("n"))
      .orderBy("user_id", "event_type").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("multiBatchState: state accumulates across >1 real micro-batches") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val streamed = StreamingQueries.multiBatchState(spark, dir).collect()
    val run = StreamingQueries.lastDrain(
      StreamingQueries.named("st11_multibatch", dir))
    assert(run.exists(_.batches > 1),
      s"expected multiple non-empty micro-batches, got $run")
    val batch = Tables(spark, dir, "events")
      .groupBy("user_id").agg(count("*").as("n_events"))
      .orderBy("user_id").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("cmsState: sketch merges across >1 micro-batches and brackets " +
      "every exact top-10 count") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val streamed = StreamingQueries.cmsState(spark, dir).collect()
    val run = StreamingQueries.lastDrain(StreamingQueries.named("st23_cms", dir))
    assert(run.exists(_.batches > 1),
      s"expected multiple non-empty micro-batches, got $run")
    assert(streamed.length === 10)
    assert(streamed.forall(_.getBoolean(2)),
      "CMS estimate must satisfy exact <= est <= exact + eps*N for " +
        "every top-10 key")
    // the (user_id, n) face is exactly the batch exact top-10
    val batch = Tables(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(10).collect()
    assert(streamed.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      batch.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("contractMonitor: drained verdicts equal the batch contract facts") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val got = StreamingQueries.contractMonitor(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getBoolean(3))).toMap
    val facts = Tables(spark, dir, "events").agg(
      count(lit(1)).cast("double"),
      countDistinct(col("event_type")).cast("double"),
      min(col("value")),
      sum(when(col("value").isNull, 1L).otherwise(0L)).cast("double"))
      .collect().head
    assert(got("rowcount_min") === ((facts.getDouble(0), true)))
    assert(got("type_domain") === ((facts.getDouble(1), true)))
    assert(math.abs(got("value_min_nonnegative")._1 - facts.getDouble(2))
      < 1e-6)
    assert(got("value_null_count") === ((facts.getDouble(3), true)))
  }

  test("streamMarkov: cross-batch transitions equal the batch e8 twin") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.streamMarkov(spark, dir).collect()
    val batch = graft.SparkEntry.queries("e8_markov")(spark, dir).collect()
    // row-for-row: the state-carried cross-batch transition must splice
    // the per-user sequence exactly where the batch lead() does
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("streamAnomaly: ring-carried z-scores equal the batch w7 twin") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.streamAnomaly(spark, dir).collect()
    val batch = graft.SparkEntry.queries("w7_zscore_anomaly")(spark, dir)
      .collect()
    // row-for-row at 6 decimals: every flagged event must have seen the
    // exact 50 predecessors the batch frame gives it, across batch seams
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    assert(streamed.nonEmpty, "sf0.001 must flag at least one outlier")
  }

  test("streamAttribution: carried-touch verdicts equal the batch e9 twin") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.streamAttribution(spark, dir).collect()
    val batch = graft.SparkEntry.queries("e9_attribution")(spark, dir)
      .collect()
    // row-for-row: the touch carried across batch seams must be exactly
    // the one the batch window's running last(ignoreNulls) selects
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    val channels = streamed.map(_.getAs[String]("channel")).toSet
    assert(channels.contains("organic") &&
      (channels.contains("click") || channels.contains("view")),
      s"both verdict kinds must occur at sf0.001: $channels")
  }

  test("incrementalMv: the MV merges across >1 versions to the full rollup") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val streamed = StreamingQueries.incrementalMv(spark, dir).collect()
    assert(StreamingQueries.lastMvVersions(dir) > 1,
      s"expected a multi-version merge chain, got ${StreamingQueries.lastMvVersions(dir)}")
    val batch = Tables(spark, dir, "events")
      .select(expr("ts div 3600000000000").as("hr"), col("event_type"),
        col("value"))
      .groupBy("hr", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("hr", "event_type").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("checkpointResume: restart processes ONLY the unseen files") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val streamed = StreamingQueries.checkpointResume(spark, dir).collect()
    val secondHalf = Tables(spark, dir, "events")
      .where(col("event_id") % 2 === 1).count()
    val run2 = StreamingQueries.lastDrain(
      StreamingQueries.named("st19_resume", dir))
    assert(run2.map(_.inputRows) === Some(secondHalf),
      s"run 2 must ingest exactly the new rows ($secondHalf), got " +
        s"$run2 — offsets log ignored?")
    val batch = Tables(spark, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("dsirScore stream equals the batch DSIR weights row for row") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val target = Seq("src0", "src1")
    val streamed = StreamingQueries.dsirScore(spark, dir, target).collect()
    val batch = graft.operators.TextAnalysis
      .dsirWeights(Tables(spark, dir, "documents"),
        col("source").isin(target: _*))
      .orderBy("doc_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("kmvState stream equals the batch KMV sketch per group") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.kmvState(spark, dir).collect()
    val batch = graft.operators.Kmv
      .distinctEstimate(Tables(spark, dir, "events"), "event_type",
        "user_id")
      .select("event_type", "n_h", "kmv_est").collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("bloomProbe stream: zero false negatives -> hits == total per group") {
    val dir = "/root/testdata/sf0.001"
    val rows = StreamingQueries.bloomProbe(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("hits") === r.getAs[Long]("total"), r))
  }

  test("benfordMonitor: drained digit state equals the batch fe3 audit") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.benfordMonitor(spark, dir).collect()
    val batch = graft.SparkEntry.queries("fe3_benford")(spark, dir).collect()
    // row-for-row: the stream's 9-row count state + the shared
    // presentation must reproduce the batch audit exactly
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("ksMonitor: the drained binned KS equals the batch face over the " +
      "same shared binning") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.ksMonitor(spark, dir).collect()
    import org.apache.spark.sql.functions._
    val batch = graft.operators.FeatureEng.ksBinnedFace(
      Tables(spark, dir, "orders")
        .groupBy(graft.operators.FeatureEng.psiCohort.as("cohort"),
          graft.operators.FeatureEng.psiBin(10, 50000.0).as("bin"))
        .agg(count(lit(1)).as("n"))).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("cusumMonitor: the drained hourly cells fold through the shared " +
      "face to the exact batch w13 screen") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.cusumMonitor(spark, dir).collect()
    val batch = graft.SparkEntry.queries("w13_cusum")(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("intakeGate: the streamed per-source admission ledger equals the " +
      "batch faces composed over the same corpus") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.intakeGate(spark, dir).collect()
    val batch = graft.operators.TextAnalysis.readability(
        graft.operators.TextAnalysis.qualityScore(
          Tables(spark, dir, "documents"), keep = Seq("text", "source")),
        keep = Seq("quality", "source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= 0.5 && col("flesch") >= 20.0, 1L)
          .otherwise(0L)).as("n_pass"))
      .withColumn("pass_rate",
        round(col("n_pass").cast("double") / col("n_docs"), 6))
      .orderBy("source")
      .collect()
    assert(streamed.nonEmpty)
    assert(streamed.exists(_.getAs[Long]("n_pass") > 0),
      "fixture must admit at least one document")
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("nearDupAdmission: the streamed admission ledger equals the " +
      "exact batch stream-slice x index-slice verdict") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.nearDupAdmission(spark, dir).collect()
    // batch truth: EXACT all-pairs max Jaccard between the slices (the
    // oracle's own formulation) — passing also witnesses the LSH path's
    // recall at this SF, not just its plumbing
    val sets = graft.operators.Dedup.shingleSets(
      Tables(spark, dir, "documents"), 3)
    val batch = sets.where(pmod(col("doc_id"), lit(5)) === 4)
      .crossJoin(sets.where(pmod(col("doc_id"), lit(5)) =!= 4)
        .select(col("sh").as("sh_b")))
      .withColumn("inter", size(array_intersect(col("sh"), col("sh_b"))))
      .withColumn("j", col("inter").cast("double")
        / (size(col("sh")) + size(col("sh_b")) - col("inter")))
      .groupBy("doc_id")
      .agg(max(when(col("j") >= 0.8, col("j"))).as("dup_j"))
      .select(col("doc_id"), round(col("dup_j"), 6).as("dup_jaccard"),
        col("dup_j").isNull.as("admitted"))
      .orderBy("doc_id")
      .collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("nbServe: stream-served predictions equal the batch classifier " +
      "row for row (scores included)") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.nbServe(spark, dir).collect()
    val batch = graft.SparkEntry.queries("t36_nb_classify")(spark, dir)
      .collect()
    // the stateless serving projection (literal-map fold + argmax) must
    // produce the exact integer scores and tie order of the batch
    // join/aggregate/window formulation
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("removeScratch deletes a lane's scratch dir once its rows are consumed") {
    val dir = "/root/testdata/sf0.001"
    val scratch = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${StreamingQueries.named("st9_foreach", dir)}_" +
        ProcessHandle.current().pid())
    val rows = graft.SparkEntry.queries("st9_foreach_sink")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(scratch.isDirectory, s"$scratch")
    StreamingQueries.removeScratch(spark)
    assert(!scratch.exists, s"$scratch")
  }
}
