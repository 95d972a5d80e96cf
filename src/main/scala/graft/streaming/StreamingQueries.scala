package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, TimeoutException}

import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, Trigger}

/** Batch-equivalent streaming queries: the same transformations the batch
  * engine registers, executed through Structured Streaming's incremental
  * engine and drained to a deterministic result — which makes streaming
  * itself oracle-checkable (the DuckDB twin of the batch query must match).
  *
  * Scale notes: the file source at 100 TB is the same parquet scan split
  * by `maxFilesPerTrigger`; the aggregation state is keyed by
  * (window, event_type) — bounded by time × cardinality, not by input
  * rows. The memory sink is test-scale plumbing only; a cluster deployment
  * swaps it for a parquet/Kafka sink in append mode with the watermark
  * bounding state eviction.
  *
  * Every stream runs through [[drain]]: started with
  * `AvailableNow`, waited for at most [[DrainWait]], stopped and
  * failed by name when it overruns, and recorded by name ([[lastDrain]]).
  */
object StreamingQueries {

  /** The longest one drain may run. The slowest lane drains in seconds at
    * sf0.1 (3.9 s) and st31 in 8-20 s at sf1: a stream still running
    * after this is stuck, not slow. */
  val DrainWait: FiniteDuration = 10.minutes

  /** What one drained run did: its non-empty micro-batches and the input
    * rows they read. */
  final case class Drained(batches: Int, inputRows: Long)

  private val drains = new ConcurrentHashMap[String, Drained]

  /** The record of the last drain of the stream named `name`. Two
    * concurrent drains of one name over one dir would race, but they
    * already share that dir's scratch paths, so same-name drains are
    * sequential by construction. */
  def lastDrain(name: String): Option[Drained] = Option(drains.get(name))

  /** A lane's stream name over `dir`: the memory-sink table, the query
    * name and the [[lastDrain]] key. */
  def named(lane: String, dir: String): String =
    s"${lane}_${math.abs(dir.hashCode)}"

  /** Runs `writer` as the stream `name` until it has read every file
    * present at start (`AvailableNow`), waiting at most `wait`. A
    * stream still running then is stopped and fails naming it; a stream
    * whose micro-batch threw fails naming it too. The run is recorded
    * under `name`. */
  private[graft] def drain(name: String, writer: DataStreamWriter[_],
      wait: FiniteDuration = DrainWait): Unit = {
    val q = writer.queryName(name).trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(wait.toMillis)) {
      q.stop()
      throw new TimeoutException(s"stream $name did not drain within $wait")
    }
    val ran = q.recentProgress.filter(_.numInputRows > 0)
    drains.put(name, Drained(ran.length, ran.map(_.numInputRows).sum))
  }

  /** [[drain]] of `df` into a memory sink in output `mode`; the drained
    * table. */
  private[graft] def drainTable(name: String, df: DataFrame,
      mode: String): DataFrame = {
    drain(name, df.writeStream.format("memory").outputMode(mode))
    df.sparkSession.table(name)
  }

  private val scratchDirs = ConcurrentHashMap.newKeySet[String]()

  private def delete(spark: SparkSession, path: String): Unit =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)

  /** A PID-scoped scratch directory for the stream `name`, emptied: two
    * JVMs (e.g. bench and verify) over the same data dir must not clobber
    * each other's files mid-read, and a re-run starts clean. The path is
    * registered for [[removeScratch]]. */
  private def scratch(spark: SparkSession, name: String): String = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_${name}_" +
      ProcessHandle.current().pid()
    delete(spark, path)
    scratchDirs.add(path)
    path
  }

  /** Deletes every scratch directory handed out so far. Lane results
    * (st9, st15, st18, st19) read their scratch files lazily, so this
    * runs only after the last result is consumed: from
    * [[graft.CleanExit.teardown]], or from a spec that is done with its
    * results. */
  def removeScratch(spark: SparkSession): Unit =
    scratchDirs.forEach { path =>
      delete(spark, path)
      scratchDirs.remove(path)
    }

  /** `df` re-laid as 8 parquet files under `$base/src` and streamed back 4
    * per trigger: 2 real micro-batches, so state and merges genuinely carry
    * across a commit ([[multiBatchState]] says why 2).
    *
    * `byTime` lays the files out as disjoint `(ts, event_id)` ranges,
    * part-00000 holding the earliest slice. FileStreamSource admits by
    * (modification time, path), and a parallel write finishes its part
    * files in arbitrary order — so strictly increasing modification
    * times are pinned in part order, making admission order = time order
    * (the log-rotation contract the incremental twins model).
    *
    * The stream reads with the written frame's own schema: reading the
    * files back to infer it would cost one more job, and the file source
    * makes every field nullable either way, as a read-back does. */
  private[streaming] def relaid(df: DataFrame, base: String,
      byTime: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val path = s"$base/src"
    val laid = if (byTime) df.repartitionByRange(8, col("ts"), col("event_id"))
      else df.repartition(8)
    laid.write.mode("overwrite").parquet(path)
    if (byTime) {
      val parts = new java.io.File(path).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      val base = (System.currentTimeMillis() / 1000L) * 1000L - 3600000L
      parts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(base + i * 1000L)
      }
    }
    spark.readStream.schema(laid.schema)
      .option("maxFilesPerTrigger", "4").parquet(path)
  }

  /** Isolated child session for one drained stream: right-sized state
    * partition count — a handful of live keys never needs 32 state-store
    * commits per batch. Checkpoints stay on the engine-generated temp
    * path: Spark makes it unique per START, which matters — a stable
    * session-default location would be reused by the next start of a
    * same-named query, and RESUMING a drained AvailableNow checkpoint
    * sees no new files, runs no batch, and leaves the fresh memory sink
    * empty. (Measured: relocating these few-KB checkpoints to tmpfs moves
    * nothing — the ~1s/query floor is micro-batch planning, not I/O.)
    * The child keeps the outer session's runtime SQL confs
    * ([[graft.Config.child]]) under the stream posture below, then a
    * lane's own `overrides`.
    */
  private[streaming] def childSession(outer: SparkSession,
      overrides: (String, String)*): SparkSession = graft.Config.child(outer, Seq(
    // 4 state partitions (r11, measured: the drained lane's cost is
    // per-partition state-store commit rounds — a stream-stream join
    // opens 4 stores per partition per batch, and even the EMPTY
    // watermark-advance batch pays the full round. At sf0.1 the heavy
    // 6-query cohort medians 24.6s at width 4 vs ~30.8s at width 8 vs
    // 38.3s at width 16; width 2 adds <1.5s more but halves row-work
    // parallelism headroom). A cluster deployment sizes this to its key
    // cardinality per query; the width is frozen into each query's
    // checkpoint, as the st5 scaladoc documents.
    "spark.sql.shuffle.partitions" -> "4",
    // State width 4 bounds the per-batch store-commit round, but it must
    // not also choke the SOURCE scan: the r12 stage traces show the
    // dominant stages are the scan+map fronts (4 tasks, ~1s each) whose
    // split count comes from maxPartitionBytes, not shuffle width.
    // 2 MiB splits widen the map side while the stateful exchange stays
    // at 4. A cluster deployment leaves this at the session default and
    // gets its map width from real file counts.
    "spark.sql.files.maxPartitionBytes" -> s"${2 * 1024 * 1024}",
    // Production-posture state store (r7 verdict ask #5): the HDFS-backed
    // provider keeps every version of every key's state on the JVM heap —
    // fine at sf0.1, memory-unbounded at 100 TB. RocksDB keeps state
    // off-heap/on-disk with incremental checkpointing, the store a cluster
    // deployment runs (st10's transformWithState already REQUIRES it).
    // Every stateful query in this object flows through this one choke
    // point, so Verify/Bench/specs all exercise the real provider.
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // Changelog checkpointing (r12): a commit persists only the batch's
    // delta; full snapshots move to the maintenance thread. Measured
    // NEUTRAL at sf0.1 (heavy cohort 23.6s vs 23.3s — state here is KBs,
    // so snapshot-vs-changelog doesn't move the floor), but it is the
    // posture a production RocksDB deployment runs: at real state sizes
    // the per-commit snapshot upload is the term that grows with state
    // while the changelog grows only with the batch.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"
    // NOT adopted (r17): rocksdb.trackTotalNumberOfRows=false (blind
    // state puts, no get-per-put for the row-count metric) measured
    // NEUTRAL on the 8-query heavy stateful cohort at sf0.1 (17.6 vs
    // 17.0 s totals, inside noise) — state here is KBs–MBs, so the
    // extra GET never shows. Worth re-testing on a deployment with
    // millions of state rows per partition; left at the default so the
    // state-row telemetry stays real.
  ) ++ overrides: _*)

  /** Streaming file source for one table, tolerant of BOTH parquet
    * layouts: the driver's testdata ships `<dir>/<table>.parquet` as a
    * single FILE (the file-stream source rejects a file as `basePath`,
    * so the watch dir is `<dir>` with a leaf-name glob), while
    * Spark-written datasets (e.g. the `tools.ScaleData` scaling corpus)
    * make it a DIRECTORY of part files (where the leaf-name glob matches
    * nothing — scaling benches silently streamed ZERO rows until this
    * helper). One stat call picks the right source shape. */
  private def tableStream(
      spark: SparkSession,
      dir: String,
      table: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val schema = spark.read.parquet(path.toString).schema
    var src = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      src = src.option("maxFilesPerTrigger", n.toString))
    if (fs.getFileStatus(path).isDirectory) src.parquet(path.toString)
    else src.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** The `events` table as a stream, `ts` normalized to nanos. */
  private def eventStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    graft.operators.Tables.normalizeEvents(
      tableStream(spark, dir, "events", maxFilesPerTrigger))

  /** An event's time as a timestamp. Integer `div`, not double division:
    * nanos ~1.7e18 exceed double's 53-bit mantissa, so (ts/1000).cast(long)
    * can misplace an event that sits within ~128ns of an hour boundary. */
  private def eventTime: Column = timestamp_micros(expr("ts div 1000"))

  /** Event-time hourly counts over the `events` table, as a stream:
    * file-source parquet scan → event-time tumbling window (with
    * watermark) → count per (window, event_type) → memory sink, drained
    * with `AvailableNow` so the result is the complete, final
    * answer — identical to the batch `e1_event_hourly` query and checked
    * against the same oracle. State is keyed by (window, event_type), a
    * handful of live keys, in the right-sized child session. */
  def eventHourly(outer: SparkSession, dir: String): DataFrame =
    hourly(outer, dir, "st1_events_hourly", "complete")

  /** [[eventHourly]] in APPEND output mode — the production shape: a row
    * is emitted exactly once, when the watermark passes its window's end
    * and the window's state is dropped. Drained with `AvailableNow`
    * the result is every *finalized* window: `window.end <= max event time
    * − delay` (the trailing windows stay open and unemitted — that is the
    * semantics, and the oracle applies the same cutoff). The final no-data
    * micro-batch (`noDataMicroBatches`, on by default) is what advances
    * the watermark past the last data batch and flushes those windows. */
  def eventHourlyAppend(outer: SparkSession, dir: String): DataFrame =
    hourly(outer, dir, "st4_events_append", "append")

  /** The watermarked hourly window count of st1/st4, drained as `lane`
    * in output `mode`. */
  private def hourly(outer: SparkSession, dir: String, lane: String,
      mode: String): DataFrame = {
    val counts = eventStream(childSession(outer), dir)
      .select(eventTime.as("event_time"), col("event_type"))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count("*").as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"), col("n"))
    drainTable(named(lane, dir), counts, mode).orderBy("hour", "event_type")
  }

  /** Hopping (sliding) event-time windows as a stream — `e6_sliding`
    * through the incremental engine: 1 h windows every 15 min, each event
    * expanding to its 4 window assignments in the stateless projection,
    * state keyed by (window, type) exactly like [[eventHourly]] (4× the
    * rows, same bound: time × cardinality, never input size). The count
    * is e6's own [[graft.operators.FeatureEng.hoppingCounts]] over the
    * watermarked stream; drained complete with `AvailableNow`, the result
    * equals the batch query and shares its oracle. */
  def eventSliding(outer: SparkSession, dir: String): DataFrame = {
    val counts = graft.operators.FeatureEng.hoppingCounts(
      eventStream(childSession(outer), dir)
        .select(eventTime.as("t"), col("event_type"))
        .withWatermark("t", "1 hour"))
    drainTable(named("st17_sliding", dir), counts, "complete")
      .orderBy("w_start_us", "event_type")
  }

  /** Streaming dedup state over the documents corpus: keyed aggregation on
    * the normalized text (the exact-dup key), drained and summarized to
    * `(n_docs, n_distinct)`. The state is exactly what an always-on
    * ingestion dedup holds — one row per distinct key — and the summary is
    * fully oracle-checkable against batch SQL. */
  def dedupState(outer: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val spark = childSession(outer)
    val counts = tableStream(spark, dir, "documents")
      .select(graft.operators.TextAnalysis.normalized(col("text")).as("norm"))
      .groupBy("norm").agg(cnt("*").as("n"))
    drainTable(named("st2_dedup", dir), counts, "complete")
      .agg(sum("n").as("n_docs"), count("*").as("n_distinct"))
  }

  /** Streaming KMV sketch (`a13_kmv_distinct`'s sketch as an always-on
    * cardinality monitor): the stream's only state is the distinct
    * `(group, hash)` relation — BOUNDED BY THE HASH MODULUS per group
    * (~1e6 fixed-width rows max) no matter how long the stream runs,
    * which is why a KMV monitor can stay up forever where an exact
    * distinct count cannot. The estimator half
    * ([[graft.operators.Kmv.sketchFinish]] — the same code the batch
    * query runs) finishes on the drained state; the oracle is the batch
    * sketch SQL minus the exact column the stream deliberately does not
    * keep. `(event_type, n_h, kmv_est)`. */
  def kmvState(outer: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val spark = childSession(outer)
    val hashes = tableStream(spark, dir, "events")
      .select(col("event_type").as("grp"),
        graft.operators.Sampling.rowHash(col("user_id")).as("h"))
      .groupBy("grp", "h").agg(cnt("*").as("n_seen"))
    graft.operators.Kmv.sketchFinish(
        drainTable(named("st16_kmv", dir), hashes, "complete")
          .select("grp", "h"), k)
      .withColumnRenamed("grp", "event_type")
      .orderBy("event_type")
  }

  /** Streaming corpus ingestion — the composition layer's ingest face:
    * the hashed-LR model gate runs INSIDE the stream (a native expression
    * gates batch and stream with the same one-pass kernel), and the dedup
    * state is keyed by `(source, xxhash64(norm))` — fixed-width state
    * rows, never document text, which is what an always-on 100 TB ingest
    * can actually hold (contrast [[dedupState]], which keys on the text
    * itself as the small-state demonstration). Drained with AvailableNow
    * and summarized per source: `(source, n_unique, n_docs)`; the batch
    * SQL twin is the oracle. A fingerprint collision would merge two
    * texts here; the collision-safe exact path is batch `dedup_exact` —
    * bounded state width is the point of this one.
    */
  def corpusIngest(outer: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val spark = childSession(outer)
    val counts = tableStream(spark, dir, "documents")
      .where(graft.functions.hashed_lr_score(col("text"), 64) >= 0)
      .select(col("source"),
        xxhash64(graft.operators.TextAnalysis.normalized(col("text"))).as("fp"))
      .groupBy("source", "fp").agg(cnt("*").as("n"))
    drainTable(named("st13_corpus", dir), counts, "complete").groupBy("source")
      .agg(count("*").as("n_unique"), sum("n").as("n_docs"))
      .orderBy("source")
  }

  /** Streaming unigram-LM scoring (`t21_unigram_lm` as an ingest
    * stream): the stream maintains t21's own fold, the per-`(doc, token)`
    * count state ([[graft.operators.TextAnalysis.unigramLmCounts]]) — ONE
    * stateful aggregate, the only state an unbounded ingest needs — and
    * the drained state finishes through t21's face
    * ([[graft.operators.TextAnalysis.unigramLmFace]]: token frequencies,
    * corpus total, per-doc cross-entropy), so the result equals the batch
    * query row for row and shares its oracle. At serving scale the finish
    * is where a PRETRAINED frequency artifact would join instead (the
    * bloom / PQ artifact lifecycle); training on the drained batch keeps
    * the self-perplexity semantics t21 defines. */
  def lmScore(outer: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val spark = childSession(outer)
    val dt = drainTable(named("st14_lm", dir),
      TextAnalysis.unigramLmCounts(tableStream(spark, dir, "documents")),
      "complete")
    // stream drained: widen the shuffle for the batch finishing joins
    // (the 4-partition child sizing is state-commit right-sizing only)
    spark.conf.set("spark.sql.shuffle.partitions",
      outer.sessionState.conf.numShufflePartitions)
    TextAnalysis.unigramLmFace(dt).orderBy("doc_id")
  }

  /** Streaming DSIR (`t25_dsir` as an ingest stream): each micro-batch
    * runs t25's own fold ([[graft.operators.TextAnalysis.dsirFold]]) on
    * its slice and APPENDS the per-`(doc, in_target, kind, key)` counts
    * to an idempotent parquet count artifact (`foreachBatch` +
    * overwrite-by-batch-id, the st9 recipe). No state store holds the
    * doc×key relation — per-doc counts are BATCH-LOCAL (the file source
    * admits whole files, and a document is one row, so its counts cannot
    * span batches), which is the shape an unbounded 100 TB ingest can
    * actually sustain: the earlier stateful-aggregate variant
    * re-committed the full doc×bigram relation to the state store and
    * rewrote it through a complete-mode sink every batch (profiled: 2.2s
    * of a 6.4s query at sf0.1 — and unbounded growth at scale, since
    * per-doc state never evicts). The drained artifact finishes through
    * t25's face ([[graft.operators.TextAnalysis.dsirFace]]), which
    * re-aggregates the model rows across batches, so the result equals
    * the batch query row for row and SHARES its oracle. At serving scale
    * the finish is where pretrained target/raw LM artifacts would join
    * instead; training on the drained corpus keeps t25's self-normalized
    * semantics. */
  def dsirScore(outer: SparkSession, dir: String,
      targetSources: Seq[String]): DataFrame = {
    import graft.operators.TextAnalysis
    // no state store here (see scaladoc) — the width that matters is the
    // per-batch fold's aggregation, which wants the full core count
    val spark = childSession(outer, "spark.sql.shuffle.partitions" ->
      outer.sessionState.conf.numShufflePartitions.toString)
    val name = named("st15_dsir", dir)
    val out = scratch(spark, name)
    drain(name, tableStream(spark, dir, "documents").writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        TextAnalysis.dsirFold(batch, col("source").isin(targetSources: _*))
          .write.mode("overwrite").parquet(s"$out/batch=$batchId")
      })
    TextAnalysis.dsirFace(spark.read.parquet(out)).orderBy("doc_id")
  }

  /** Stream-stream inner join: `click` events joined to later `purchase`
    * events of the same user within 1 hour — the funnel-attribution shape.
    * Both sides are watermarked and the join carries a time-range
    * condition, so each side's state is evicted once the other side's
    * watermark passes (bounded state — THE requirement for an unbounded
    * run). Inner-join emission does not wait for the watermark, so the
    * drained result equals the batch join and is fully oracle-checkable.
    * Output is the per-hour count of attributed conversions.
    *
    * No-data micro-batch opt-out (r17, VERDICT r16 #1 — measured 0.66 s
    * of the drain's 2.8 s at sf0.1): for an INNER stream-stream join the
    * trailing zero-row batch only advances the watermark and EVICTS
    * state — inner matches were already emitted in the data batch where
    * both sides met, so the drained result is byte-identical without it.
    * (The left-outer sibling st8 KEEPS the batch: its null rows emit on
    * exactly that watermark advance.) A long-running deployment would
    * keep the default — eviction is what bounds state across triggers;
    * a drain's state dies with the query. */
  def streamStreamJoin(outer: SparkSession, dir: String): DataFrame =
    funnelJoin(childSession(outer,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
      dir, "st5_funnel", "inner")
      .groupBy(date_format(col("click_time"), "yyyy-MM-dd HH:00").as("hour"))
      .agg(count("*").as("n_conversions"))
      .orderBy("hour")

  /** Stream-stream LEFT OUTER interval join — [[streamStreamJoin]] plus
    * the abandonment signal: a click with no purchase in its hour emits
    * with NULL purchase columns once the watermark passes the end of its
    * join window and its state is evicted (matches emit immediately, like
    * the inner join). Drained with `AvailableNow` the null rows cover
    * exactly the clicks whose window closed under the final global
    * watermark = min over both sides of (max side event time − delay);
    * trailing clicks stay in state, unemitted — the oracle applies the
    * same cutoff. Output: per click-hour matched vs abandoned counts. */
  def streamStreamLeftOuter(outer: SparkSession, dir: String): DataFrame =
    funnelJoin(childSession(outer), dir, "st8_abandon", "left_outer")
      .groupBy(date_format(col("click_time"), "yyyy-MM-dd HH:00").as("hour"))
      .agg(sum(when(col("purchase_user").isNotNull, 1L).otherwise(0L)).as("matched"),
        sum(when(col("purchase_user").isNull, 1L).otherwise(0L)).as("abandoned"))
      .orderBy("hour")

  /** The click → purchase-within-1-hour interval join of st5/st8 in
    * `joinType`, both sides watermarked, drained in append mode as `lane`.
    * Stream-stream join cost is dominated by per-partition state-store
    * commits (4 stores per partition per batch), not row work — hence the
    * right-sized child session `spark`; real deployments pin the width
    * per query too (it is frozen into the checkpoint). */
  private def funnelJoin(spark: SparkSession, dir: String, lane: String,
      joinType: String): DataFrame = {
    def side(tag: String) = eventStream(spark, dir)
      .where(col("event_type") === tag)
      .select(col("user_id").as(s"${tag}_user"), eventTime.as(s"${tag}_time"))
      // one-row-group testdata = one split; spread the filtered rows so
      // the per-row state work runs on all cores (the filter stays at the
      // scan; a real multi-file source arrives already parallel)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .withWatermark(s"${tag}_time", "1 hour")
    drainTable(named(lane, dir), side("click").join(side("purchase"),
      col("click_user") === col("purchase_user")
        && col("purchase_time") >= col("click_time")
        && col("purchase_time") < col("click_time") + expr("INTERVAL 1 HOUR"),
      joinType), "append")
  }

  /** Streaming row-level dedup via `dropDuplicatesWithinWatermark`: the
    * source is read TWICE and unioned, so every event arrives duplicated
    * — the watermark-bounded dedup state must collapse the stream back to
    * exactly the batch row set (checked per event_type by the oracle).
    * This is the ingestion-retry shape: at-least-once delivery upstream,
    * exactly-once row set downstream, state bounded by the watermark
    * horizon instead of all history. */
  def streamDropDuplicates(outer: SparkSession, dir: String): DataFrame = {
    // Dedup state cost is per-partition state-store commits per batch, not
    // row work — right-size the state partition count in a child session
    // (frozen into a real checkpoint, so deployments pin it per-query too).
    // No-data micro-batch opt-out (r17, the st5 rationale): kept rows are
    // emitted in the data batch they arrive in — the trailing zero-row
    // batch only advances the watermark to evict suppression state, so
    // the drained row set is identical without it (0.33 s of the 2.2 s
    // drain at sf0.1). A long-running deployment keeps the default.
    val spark = childSession(outer,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    def src = eventStream(spark, dir)
      .select(col("event_id"), eventTime.as("event_time"), col("event_type"))
    val deduped = src.union(src)
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

    drainTable(named("st7_dropdup", dir), deduped, "append")
      .groupBy("event_type").agg(count("*").as("n"))
      .orderBy("event_type")
  }

  /** The production sink surface: `foreachBatch` hands each micro-batch to
    * the full BATCH writer API — here a parquet write into a
    * `batch=<id>` directory, which is the exactly-once recipe (re-running
    * a batch id overwrites the same path, so retries are idempotent; a
    * cluster deployment swaps in MERGE/upsert against a table). The
    * drained result is read back from the committed files and must equal
    * the batch answer — checking the sink path end to end, not just the
    * in-memory collector. */
  def foreachBatchSink(outer: SparkSession, dir: String): DataFrame = {
    val spark = childSession(outer)
    val name = named("st9_foreach", dir)
    val out = scratch(spark, name)

    val stream = tableStream(spark, dir, "events")
      .select(col("event_id"), col("event_type"))

    drain(name, stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")
      })

    spark.read.parquet(out)
      .groupBy("event_type").agg(count("*").as("n"))
      .orderBy("event_type")
  }

  /** Arbitrary stateful processing through Spark 4's `transformWithState`
    * (the successor API to `flatMapGroupsWithState`): a `StatefulProcessor`
    * keyed by user holding a `MapState[event_type -> count]` — the
    * composite-state shape the old API forces into one serialized blob,
    * here stored as individually-updatable map entries in the RocksDB
    * state store (required by this API; state no longer lives on the JVM
    * heap, which is what makes billions of keys per executor viable at
    * 100 TB). Each batch emits the per-(user, type) DELTA, so the drained
    * append-mode result summed per key is batch-count-invariant and equals
    * the batch `groupBy(user_id, event_type).count` — oracle-checked. */
  def transformWithStateCounts(outer: SparkSession, dir: String): DataFrame = {
    val spark = childSession(outer)
    import spark.implicits._

    val deltas = tableStream(spark, dir, "events")
      .select(col("user_id"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())

    drainTable(named("st10_tws", dir),
        deltas.toDF("user_id", "event_type", "delta"), "append")
      .groupBy("user_id", "event_type").agg(sum("delta").as("n"))
      .orderBy("user_id", "event_type")
  }

  /** Arbitrary stateful processing through the registered surface:
    * per-user running event counts via `flatMapGroupsWithState`. The
    * function emits each batch's DELTA and keeps the running total in
    * `GroupState`, so the drained append-mode result summed per user is
    * batch-count-invariant and equals the batch `groupBy.count` — the
    * custom-state API oracle-checked end to end. State is one long per
    * user: bounded by key cardinality, never by input rows. */
  def statefulUserCounts(outer: SparkSession, dir: String): DataFrame =
    userEventCounts(named("st6_state", dir),
      tableStream(childSession(outer), dir, "events"))

  /** Per-user event counts of the `events` stream through
    * `flatMapGroupsWithState`, drained as the stream `name`: each batch
    * emits its per-user DELTA and keeps the running total in `GroupState`;
    * the append-mode deltas summed per user are the counts. */
  private def userEventCounts(name: String, events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val deltas = events
      .select(col("user_id")).as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = rows.size.toLong
          state.update(state.getOption.getOrElse(0L) + n)
          Iterator((uid, n))
      }
    drainTable(name, deltas.toDF("user_id", "delta"), "append")
      .groupBy("user_id").agg(sum("delta").as("n_events"))
      .orderBy("user_id")
  }

  /** Streaming sessionization: the batch `e2_sessionize` semantics through
    * the incremental engine — `session_window` with a watermark plans as
    * session-merging state; in append mode a session emits only once the
    * watermark passes its end (last event + gap), so the drained result is
    * every FINALIZED session; trailing sessions stay open in state. The
    * oracle rebuilds sessions with the strict-gap window formulation and
    * applies the identical ms-floor watermark cutoff. */
  def streamSessions(outer: SparkSession, dir: String): DataFrame = {
    val spark = childSession(outer)

    val sessions = eventStream(spark, dir)
      .select(eventTime.as("event_time"), col("user_id"))
      .withWatermark("event_time", "1 hour")
      .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
      .agg(count("*").as("n"))
      .select(col("user_id"),
        expr("unix_micros(session_window.start)").as("s_start_us"),
        expr("unix_micros(session_window.end)").as("s_end_us"),
        col("n"))

    drainTable(named("st12_sessions", dir), sessions, "append")
      .orderBy("user_id", "s_start_us")
  }

  /** Checkpoint recovery — the property every production stream lives
    * on: the SAME query drains in TWO separate runs over one checkpoint,
    * and the offsets log guarantees each source file is processed
    * exactly once across the restart. Run 1 sees only the first half of
    * the re-laid source files and drains (`AvailableNow`); the second
    * half is then written and run 2 restarts FROM THE CHECKPOINT — the
    * file-source offsets log skips everything run 1 committed (pinned:
    * run 2's input-row count is its [[lastDrain]] record), and the parquet
    * sink's `_spark_metadata` commit log makes the two runs' output read
    * back as one exactly-once dataset. The rollup of that sink must
    * equal the batch answer over the whole table — the oracle. */
  def checkpointResume(outer: SparkSession, dir: String): DataFrame = {
    val spark = childSession(outer)
    val name = named("st19_resume", dir)
    val base = scratch(spark, name)
    val src = s"$base/src"
    val all = graft.operators.Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"))
    // half the rows now; the other half arrives "later", between runs
    all.where(col("event_id") % 2 === 0).repartition(2)
      .write.mode("append").parquet(src)

    // the written frame's schema: no read-back inference job
    def run(): Unit = drain(name, spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "2").parquet(src)
      .writeStream
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt"))
    run() // run 1: first half only
    all.where(col("event_id") % 2 === 1).repartition(2)
      .write.mode("append").parquet(src)
    run() // run 2: MUST see only the new files

    spark.read.parquet(s"$base/out")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Incremental materialized-view maintenance as a stream — the
    * production face of `d4_incremental_mv`: the hourly rollup lives as a
    * parquet MV, and each micro-batch folds its slice to partial
    * aggregates and MERGES them into the previous MV version by key
    * (count and sum are self-merging states, so merge == recompute — the
    * batch twin's oracle checks exactly that). The source is re-laid as 8
    * splits admitted 4 per trigger ([[relaid]]), so the merge
    * genuinely accumulates across 2 micro-batches. Versioned
    * overwrite-by-batch-id writes make retries idempotent (batch i
    * rebuilds v=i from the committed v=i-1) — the exactly-once recipe a
    * cluster deployment keeps, with the table format handling versions.
    * No state store: the MV itself is the state, bounded by key
    * cardinality (time × type), never input rows. The stream runs over a
    * DURABLE checkpoint (`$base/ckpt`): overwrite-by-batch-id makes
    * in-run task retries idempotent, and the checkpoint's offsets log is
    * what makes a process RESTART resume at the committed batch id
    * instead of rebuilding v=0 over a stale same-run MV chain — both
    * halves of the exactly-once recipe, st19 proving the restart half. */
  def incrementalMv(outer: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val spark = childSession(outer)
    val name = named("st18_mv", dir)
    val base = scratch(spark, name)
    val src = relaid(graft.operators.Tables(spark, dir, "events")
      .select(expr("ts div 3600000000000").as("hr"), col("event_type"),
        col("value")), base)

    drain(name, src.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          val part = batch.groupBy("hr", "event_type")
            .agg(cnt("*").as("n"), sum("value").as("sv"))
          val prev = s"$base/mv/v=${batchId - 1}"
          val merged =
            if (batchId == 0) part
            else batch.sparkSession.read.parquet(prev)
              .unionByName(part)
              .groupBy("hr", "event_type")
              .agg(sum("n").as("n"), sum("sv").as("sv"))
          merged.write.mode("overwrite").parquet(s"$base/mv/v=$batchId")
      })

    val versions = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(s"$base/mv"))
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong)
    mvVersionsByDir.put(dir, versions.length)
    spark.read.parquet(s"$base/mv/v=${versions.max}")
      .select(col("hr"), col("event_type"), col("n"),
        round(col("sv"), 2).as("sum_value"))
      .orderBy("hr", "event_type")
  }

  /** Number of MV versions the last [[incrementalMv]] run over `dir`
    * committed (driver-side observability for the spec; not part of the
    * result). Dir-keyed like [[lastDrain]] — same sequential same-dir
    * assumption, enforced by the shared scratch paths. */
  private val mvVersionsByDir =
    new java.util.concurrent.ConcurrentHashMap[String, Int]
  def lastMvVersions(dir: String): Int =
    mvVersionsByDir.getOrDefault(dir, -1)

  /** Multi-micro-batch stateful streaming: the single-file sources above
    * drain in ONE `AvailableNow` batch (the file source admits whole files),
    * which exercises state plumbing but not cross-batch accumulation. Here
    * the source is re-laid as 8 splits admitted 4 per trigger → 2 real
    * micro-batches, so the per-batch deltas genuinely accumulate through
    * the state store across commits; their sum must still equal the batch
    * `groupBy.count`. The spec asserts the multi-batch execution shape.
    * (r11: 2 batches, down from 4 — cross-batch accumulation needs ≥ 2,
    * and each extra drained batch costs a full state-store commit round;
    * the lane-wide drain floor was the r10 verdict's #5 ask.) */
  def multiBatchState(outer: SparkSession, dir: String): DataFrame = {
    val spark = childSession(outer)
    val name = named("st11_multibatch", dir)
    userEventCounts(name, relaid(spark.read.parquet(s"$dir/events.parquet"),
      scratch(spark, name)))
  }

  /** The streaming twin of `e8_markov`: first-order event-type transition
    * estimation as an INCREMENTAL computation. The source is re-laid as 8
    * `(ts, event_id)`-range-split files admitted 4 per trigger
    * ([[relaid]]), so a user's events genuinely arrive across multiple
    * micro-batches in time order (log-rotation shape). Per-user state is
    * ONE row — the last seen `(ts, event_id, event_type)`: each batch
    * sorts the user's arrivals, prepends the carried state, emits the
    * consecutive-pair transitions, and stores the new last event. The
    * cross-batch transition (state → first arrival of the next batch) is
    * exactly what a batch recomputation would have seen, so the drained
    * transitions finish through e8's own
    * [[graft.operators.FeatureEng.markovFace]] and share its oracle. State is
    * bounded by user cardinality; transitions on the wire are two small
    * strings, never the event payload. */
  def streamMarkov(outer: SparkSession, dir: String): DataFrame = {
    val spark = childSession(outer)
    import spark.implicits._
    val name = named("st20_markov", dir)

    val transitions = relaid(graft.operators.Tables(spark, dir, "events"),
        scratch(spark, name), byTime = true)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), (String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[(Long, Long, String)]) =>
          val batch = rows.map(r => (r._2, r._3, r._4)).toSeq
            .sortBy(r => (r._1, r._2))
          val seq = state.getOption.toSeq ++ batch
          state.update(seq.last)
          seq.zip(seq.tail).iterator
            .map { case (a, b) => (a._3, b._3) }
      }

    graft.operators.FeatureEng.markovFace(
      drainTable(name, transitions.toDF("prev_type", "next_type"), "append"))
  }

  /** The streaming twin of `w7_zscore_anomaly`: trailing z-score outlier
    * flagging as an INCREMENTAL computation — the telemetry-monitoring
    * shape this lane exists for. Source re-laid as 8 time-range files
    * admitted 4 per trigger (the [[relaid]] log-rotation recipe), keyed by
    * event_type (bounded cardinality). Per-type state is the ring of the
    * last 50 values only — each batch sorts its arrivals by
    * `(ts, event_id)`, scores every event against the carried ring
    * (full-frame only, σ > 0, |round(z, 6)| > 3 like the batch twin),
    * then pushes the value and trims to 50. Because admission order is
    * time order and the ring carries across batches, each event sees the
    * same 50 predecessors the batch window gives it, so the drained
    * result reuses w7's oracle verbatim. State per key is 50 doubles —
    * bounded regardless of stream length. */
  def streamAnomaly(outer: SparkSession, dir: String): DataFrame = {
    val spark = childSession(outer)
    import spark.implicits._
    val name = named("st21_anomaly", dir)

    val flagged = relaid(graft.operators.Tables(spark, dir, "events"),
        scratch(spark, name), byTime = true)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[Double], (Long, String, Double, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[(String, Long, Long, Double)],
            state: GroupState[Seq[Double]]) =>
          var ring = state.getOption.getOrElse(Vector.empty[Double]).toVector
          val out = Vector.newBuilder[(Long, String, Double, Double)]
          rows.map(r => (r._2, r._3, r._4)).toSeq
            .sortBy(r => (r._1, r._2))
            .foreach { case (_, eventId, v) =>
              if (ring.size == 50) {
                val mu = ring.sum / 50
                val sd = math.sqrt(
                  ring.map(x => (x - mu) * (x - mu)).sum / 49)
                if (sd > 0) {
                  val z = BigDecimal((v - mu) / sd)
                    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                  if (math.abs(z) > 3) {
                    val vr = BigDecimal(v)
                      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                    out += ((eventId, tpe, vr, z))
                  }
                }
              }
              ring = (ring :+ v).takeRight(50)
            }
          state.update(ring)
          out.result().iterator
      }

    drainTable(name, flagged.toDF("event_id", "event_type", "value", "z"),
      "append").orderBy("event_id")
  }

  /** The streaming twin of `e9_attribution`: last-touch credit assignment
    * as the stream arrives. Per-user state is ONE carried [[Touch]] — the
    * last click/view. Each micro-batch replays its arrivals in
    * `(ts, event_id)` order: a purchase emits together with the touch
    * carried at that point; a click/view replaces the touch. The
    * time-range file admission ([[relaid]]) makes the carried touch at
    * every batch seam exactly what the batch window's running
    * `last(..., ignoreNulls)` sees, and the drained purchases take their
    * verdicts (7-day lookback, else 'organic') from e9's own
    * [[graft.operators.FeatureEng.attributionFace]], so the result shares
    * e9's oracle verbatim. O(1) state per user. */
  def streamAttribution(outer: SparkSession, dir: String): DataFrame = {
    val spark = childSession(outer)
    import spark.implicits._
    val name = named("st22_attrib", dir)

    val purchases = relaid(graft.operators.Tables(spark, dir, "events"),
        scratch(spark, name), byTime = true)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Touch, (Long, Long, Long, Option[Touch])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[Touch]) =>
          var touch = state.getOption
          val out = Vector.newBuilder[(Long, Long, Long, Option[Touch])]
          rows.map(r => (r._2, r._3, r._4)).toSeq
            .sortBy(r => (r._1, r._2))
            .foreach { case (ts, eventId, tpe) =>
              if (tpe == "purchase") out += ((uid, eventId, ts, touch))
              if (tpe == "click" || tpe == "view")
                touch = Some(Touch(ts, eventId, tpe))
            }
          touch.foreach(state.update)
          out.result().iterator
      }

    graft.operators.FeatureEng.attributionFace(drainTable(name,
      purchases.toDF("user_id", "event_id", "ts", "touch"), "append"))
  }

  /** A carried last touch: its time (nanos), event id and type. */
  private[streaming] final case class Touch(t_ts: Long, t_id: Long,
      t_type: String)

  /** Stream-static bloom probe: the static side builds the per-group
    * filters in batch; the stream probes each arriving train row against
    * its own group's filter. Zero false negatives makes the drained result
    * exactly oracle-checkable: hits == total per group. */
  def bloomProbe(outer: SparkSession, dir: String): DataFrame = {
    // Per-row probe work wants all cores (the explicit repartition below
    // keeps the wide spread); the 10-key "complete" aggregation state does
    // not want 32 state stores — right-size it in a child session.
    val spark = childSession(outer)
    val spread = outer.sessionState.conf.numShufflePartitions
    // Materialize the filter artifact ONCE, driver-side, exactly like the
    // reference tester reloading its persisted filter file: a streaming
    // join re-plans (and would re-EXECUTE) a lazy batch subplan on every
    // micro-batch, which benched at ~5x the whole query. The collected
    // GroupFilters broadcast also kills the per-row BINARY materialization
    // a filters-side join pays (see BloomPipeline.fpStatsCollected) — the
    // probe is a stateless projection, trivially correct incrementally.
    val bc = spark.sparkContext.broadcast(
      graft.operators.BloomPipeline.collectFilters(
        graft.operators.BloomPipeline.buildFilters(
          graft.operators.Ratings.trainFromLineitem(spark, dir),
          graft.SparkEntry.defaultP)))

    val stream = graft.operators.Ratings.trainProjection(
      tableStream(spark, dir, "lineitem")
        // the testdata table is ONE row group = one split: spread the raw
        // rows first so the parse projection and probe run on all cores
        // (a real deployment's source is many files — drop the shuffle)
        .repartition(spread))
      .select(col("rating"),
        graft.functions.bloom_probe_groups(bc, col("rating"), col("movieId")).as("hit"))
      .where(col("hit").isNotNull)
      .groupBy("rating")
      .agg(count("*").as("total"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("hits"))

    drainTable(named("st3_bloom_probe", dir), stream, "complete")
      .orderBy("rating")
  }

  /** Streaming count-min heavy-hitter monitor — `a8_cms_topk`'s sketch as
    * always-on state: the stream's ONLY state is one CMS buffer
    * (`⌈2/ε⌉ × ⌈ln(1/0.01)⌉` longs, ~80 KB at ε=1e-3) plus the row
    * count, no matter how long the stream runs — the reason a frequency
    * monitor can stay up forever where an exact per-key count table grows
    * with the key domain. The source is re-laid as 8 splits admitted 4
    * per trigger ([[relaid]]), so the sketch buffer genuinely merges
    * across 2 state-store commits rather than folding in one batch;
    * [[lastDrain]] records the observed batch count for the spec.
    *
    * The result is a8's own gate ([[graft.operators.Sampling.cmsGate]]):
    * the exact top-10 users (a bounded batch pass at drain time — the
    * gate's exact counts, like every `*_recall` gate) probed against the
    * STREAM-built sketch under the CMS guarantee
    * `exact ≤ estimate ≤ exact + εN`. `(user_id, n, cms_ok)`; the oracle
    * recomputes the exact top-10 with `cms_ok` definitionally TRUE. */
  def cmsState(outer: SparkSession, dir: String,
      eps: Double = 1e-3): DataFrame = {
    val spark = childSession(outer)
    val name = named("st23_cms", dir)
    val sk = relaid(spark.read.parquet(s"$dir/events.parquet"),
        scratch(spark, name))
      .agg(count_min_sketch(col("user_id"), lit(eps), lit(0.99), lit(42))
        .as("sk"), count(lit(1)).as("n"))
    val row = drainTable(name, sk, "complete").head()
    graft.operators.Sampling.cmsGate(row.getAs[Array[Byte]]("sk"),
      row.getAs[Long]("n"), spark.read.parquet(s"$dir/events.parquet")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id")).limit(10), eps)
  }

  /** Always-on data-contract monitor — a17's expectation verdicts as
    * stream state: the stream maintains one fixed-width metric row PER
    * EVENT TYPE (count, null count, min) as a keyed streaming aggregate
    * across micro-batch commits; verdicts evaluate on the DRAINED state
    * with a17's own [[graft.operators.FeatureEng.contractVerdicts]] face,
    * folding the per-type
    * rows into the global metrics — which makes the distinct-type count
    * EXACT (it is the drained state's row count), not an HLL estimate:
    * `approx_count_distinct`'s register collisions could report 4 of 5
    * types and flip the verdict (r8 advice #1). This is the
    * data-observability deployment shape: contracts watched continuously
    * during ingest, not audited after the fact. State is O(|type domain|)
    * regardless of stream length — bounded because event_type's domain
    * is; an unbounded-domain distinct would ride the KMV state of st16
    * instead (that trade is the point of having both). */
  def contractMonitor(outer: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val spark = childSession(outer)
    val name = named("st24_contract", dir)
    val metrics = relaid(spark.read.parquet(s"$dir/events.parquet"),
        scratch(spark, name))
      .groupBy(col("event_type"))
      .agg(cnt(lit(1)).as("n"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
        min(col("value")).as("mn"))
    val drained = drainTable(name, metrics, "complete")
    // fold the drained per-type state into the global metric row; the
    // type count is exact by construction (state rows = distinct types),
    // and a NULL event_type — which forms its own state row — is
    // excluded from it, matching count(DISTINCT event_type)'s NULL
    // semantics in the oracle (r9 advice #2; latent only, no nulls in
    // the shipped data)
    graft.operators.FeatureEng.contractVerdicts(drained.agg(
        sum(col("n")).as("n"), sum(col("n_null")).as("n_null"),
        min(col("mn")).as("mn"), cnt(col("event_type")).as("n_types")),
      ("rowcount_min", col("n"), 1.0, col("n") >= 1),
      ("type_domain", col("n_types"), 5.0, col("n_types") === 5),
      ("value_min_nonnegative", col("mn"), 0.0, col("mn") >= 0.0),
      ("value_null_count", col("n_null"), 0.0, col("n_null") === 0))
  }

  /** Streaming Benford audit — `fe3_benford` as an always-on ingest
    * monitor over the fact stream: the state is the 9-row per-digit
    * count relation ONLY (a keyed streaming aggregate on a 9-value
    * integer key — O(1) in stream length, the same bounded-state class
    * as st23/st24), digits extracted with the identical integer
    * arithmetic inside the stream projection. The Benford presentation
    * (freq/expected/gap against the inlined expectations) evaluates on
    * the drained state via the shared [[graft.operators.FeatureEng
    * .benfordFace]], so batch and stream cannot diverge on the
    * arithmetic — and both hash-match the same DuckDB oracle. */
  def benfordMonitor(outer: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val spark = childSession(outer)
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val digit = substring(cents.cast("string"), 1, 1).cast("int")
    val counts = tableStream(spark, dir, "lineitem", maxFilesPerTrigger = Some(2))
      .where(col("l_extendedprice") > 0)
      .groupBy(digit.as("digit")).agg(cnt(lit(1)).as("n"))
    graft.operators.FeatureEng.benfordFace(
      drainTable(named("st25_benford", dir), counts, "complete"))
  }

  /** Streaming PSI drift monitor — `fe5_psi_drift` as an always-on
    * ingest monitor over the order stream: the state is the 2×nBins
    * `(cohort, bin)` count relation ONLY (bounded keyed streaming
    * aggregate, the st23/st24/st25 state class); band and cohort are
    * extracted with the SHARED [[graft.operators.FeatureEng.psiBin]] /
    * `psiCohort` columns, and the PSI presentation evaluates on the
    * drained state via the shared [[graft.operators.FeatureEng.psiFace]]
    * — so batch and stream cannot diverge on binning or arithmetic, and
    * both hash-match the same DuckDB oracle. This is drift monitoring's
    * deployment shape: the reference-vs-serving comparison runs DURING
    * ingest, not in a nightly batch. */
  def psiMonitor(outer: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val spark = childSession(outer)
    val counts = tableStream(spark, dir, "orders", maxFilesPerTrigger = Some(2))
      .groupBy(graft.operators.FeatureEng.psiCohort.as("cohort"),
        graft.operators.FeatureEng.psiBin(10, 50000.0).as("bin"))
      .agg(cnt(lit(1)).as("n"))
    graft.operators.FeatureEng.psiFace(
      drainTable(named("st27_psi", dir), counts, "complete"), 10)
  }

  /** Streaming two-sample KS drift monitor — the distributional sibling
    * of [[psiMonitor]] (PSI is the banker's binned divergence; KS is the
    * statistician's max-CDF-gap): the state is the same bounded
    * `(cohort, bin)` count relation (SHARED
    * [[graft.operators.FeatureEng.psiBin]]/`psiCohort` columns, so the
    * stream, the batch face, and the oracle can never diverge on the
    * binning), and the BINNED KS statistic evaluates on the drained
    * state via the shared [[graft.operators.FeatureEng.ksBinnedFace]].
    * fe10 keeps the exact full-relation D for batch audits; this is the
    * O(|bins|)-state form an always-on ingest can actually hold. */
  def ksMonitor(outer: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val spark = childSession(outer)
    val counts = tableStream(spark, dir, "orders", maxFilesPerTrigger = Some(2))
      .groupBy(graft.operators.FeatureEng.psiCohort.as("cohort"),
        graft.operators.FeatureEng.psiBin(10, 50000.0).as("bin"))
      .agg(cnt(lit(1)).as("n"))
    graft.operators.FeatureEng.ksBinnedFace(
      drainTable(named("st28_ks", dir), counts, "complete"))
  }

  /** Streaming CUSUM changepoint monitor — `w13_cusum` as an always-on
    * ingest drift detector: the state is the `(event_type, hr)` hourly
    * volume-cell relation ONLY (a keyed streaming count — the st23-st28
    * bounded-state class, keyed by wall-hour so an always-on deployment
    * evicts closed hours by watermark), and the CUSUM presentation
    * evaluates on the drained state via the shared
    * [[graft.operators.FeatureEng.cusumFace]] — batch and stream cannot
    * diverge on the reflection-identity arithmetic, and both hash-match
    * the same DuckDB oracle. This is changepoint detection's deployment
    * shape: level shifts surface DURING ingest, not in a nightly batch.
    */
  def cusumMonitor(outer: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val spark = childSession(outer)
    val counts = eventStream(spark, dir, maxFilesPerTrigger = Some(2))
      .groupBy(col("event_type"), expr("ts div 3600000000000").as("hr"))
      .agg(cnt(lit(1)).as("x"))
    // the face self-joins its cells (per-type stats fold back onto the
    // cell relation) and MemoryPlan leaves can't deduplicate attribute
    // ids across a self-join — re-base the drained state onto its own
    // RDD (a LogicalRDD leaf analyzes like any batch relation)
    val drained = drainTable(named("st29_cusum", dir), counts, "complete")
    graft.operators.FeatureEng.cusumFace(
      org.apache.spark.sql.graft.Bridge.pinInternal(drained))
  }

  /** Streaming corpus-intake gate — the t2/t45 screens as an always-on
    * admission monitor: every arriving document scores through the SAME
    * batch faces ([[graft.operators.TextAnalysis.qualityScore]] stacked
    * with [[graft.operators.TextAnalysis.readability]] in ONE stateless
    * projection, the keep-columns house pattern — batch and stream
    * cannot diverge on the screen arithmetic), and the only streaming
    * STATE is the per-source admission ledger (|source| cells — the
    * st23–st28 bounded-state class). Thresholds compare the 6dp-ROUNDED
    * scores (rounded-before-thresholded), so the admission verdict is
    * engine-exact; the drained ledger hash-matches the composed DuckDB
    * twin. The deployment shape: reject-rate drift per source surfaces
    * DURING ingest, not in a nightly batch. */
  def intakeGate(outer: SparkSession, dir: String,
      minQuality: Double = 0.5, minFlesch: Double = 20.0): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    val spark = childSession(outer)
    val scored = graft.operators.TextAnalysis.readability(
      graft.operators.TextAnalysis.qualityScore(
        tableStream(spark, dir, "documents"),
        keep = Seq("text", "source")),
      keep = Seq("quality", "source"))
    val ledger = scored.groupBy(col("source"))
      .agg(cnt(lit(1)).as("n_docs"),
        sum(when(col("quality") >= minQuality
          && col("flesch") >= minFlesch, 1L).otherwise(0L)).as("n_pass"))
    drainTable(named("st30_intake", dir), ledger, "complete")
      .withColumn("pass_rate",
        round(col("n_pass").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }

  /** Streaming model serving — the fitted Naive Bayes of `t35`-`t37`
    * scoring an ingest stream: the model trains ONCE batch-side and its
    * bounded artifacts ([[graft.operators.NaiveBayes.servingArtifacts]] —
    * |labels|·|vocab| cells, the BPE-merge/PQ-codebook lifecycle) fold
    * into a STATELESS stream projection: per label, one integer
    * `aggregate()` over the token array against the label's literal
    * token→logp map, then an argmax with the batch tie order (strictly-
    * greater beats, labels visited ascending). Zero keyed state — each
    * row's verdict is final at projection time, the true always-on
    * serving shape (contrast the stateful monitors st20-st25). Output in
    * APPEND mode; the drained predictions hash-match `t36_nb_classify`'s
    * own DuckDB oracle row for row.
    *
    * The probe is the [[graft.functions.NbScoreSum]] kernel: a broadcast
    * [[graft.core.QuantizedLogProbs]] hash table per label, one O(1)
    * probe per token occurrence inside whole-stage codegen. (The first
    * cut probed a Catalyst map LITERAL via `element_at` — a linear scan
    * over the literal's key array per token, which measured 8s at sf0.1
    * where the hash kernel belongs in the st-lane's 2-3s orchestration
    * floor; at a 10⁶-token vocab the literal form would be quadratic
    * pain while the broadcast table stays flat.) */
  def nbServe(outer: SparkSession, dir: String): DataFrame = {
    val spark = childSession(outer)
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    val (cellMaps, consts) =
      graft.operators.NaiveBayes.servingArtifacts(batchDocs, memoKey = dir)
    val labels = consts.keys.toSeq.sorted
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    def scoreCol(l: String): Column = {
      val (prior, default) = consts(l)
      val table = spark.sparkContext.broadcast(graft.core.QuantizedLogProbs(
        cellMaps.getOrElse(l, Map.empty[String, Long]), default))
      graft.functions.nb_score_sum(table, prior, toks)
    }
    val scored = tableStream(spark, dir, "documents", maxFilesPerTrigger = Some(2))
      .where(!graft.operators.NaiveBayes.isTrain && size(toks) > 0)
      .select(Seq(col("doc_id"),
        graft.operators.NaiveBayes.ruleLabel.as("true_label")) ++
        labels.map(l => scoreCol(l).as(s"s_$l")): _*)
    // argmax, ties to the lexicographically first label (the batch
    // row_number(score desc, label asc) order): strictly-greater beats
    val (predCol, scoreCol2) = labels.tail.foldLeft(
      (lit(labels.head), col(s"s_${labels.head}"))) {
      case ((bl, bs), l) =>
        val s = col(s"s_$l")
        (when(s > bs, lit(l)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    drainTable(named("st26_nbserve", dir), scored
        .select(col("doc_id"), col("true_label"),
          predCol.as("pred"), scoreCol2.as("score_q")),
      "append").orderBy("doc_id")
  }

  /** Streaming near-duplicate ADMISSION gate — the `dedup_minhash_lsh`
    * machinery deployed at ingest time, the shape a production corpus
    * intake runs: a static LSH index (banded bucket keys + shingle sets)
    * is built ONCE from the existing corpus (`doc_id % 5 ≠ 4`, the index
    * slice), and every ARRIVING document (`doc_id % 5 = 4`, the stream
    * slice) computes its MinHash signature and band keys in a STATELESS
    * projection (the same [[graft.operators.Dedup.bandRows]] as the
    * batch face — stream and batch cannot bucket differently),
    * probes the index via a stream-static left-outer equi-join on
    * `(band, key)`, verifies every surviving candidate with the EXACT
    * shingle Jaccard, and folds to one verdict per doc: `dup_jaccard` =
    * strongest verified near-dup (null → none), `admitted` = no verified
    * dup at `threshold`. The only streaming state is the per-doc verdict
    * aggregate.
    *
    * Oracle posture: the twin enumerates stream × index pairs EXACTLY,
    * so this inherits [[graft.operators.Dedup.minhashLshPairs]]'
    * sanctioned recall posture under the SAME scale-dependent banding
    * ([[graft.operators.Dedup.lshBandingFor]] on the index corpus size,
    * r15): below the cutover the recall-first split keeps miss
    * probability < 1e-6 at s ≥ 0.8; above it the `dedup_lsh_tune`
    * argmax bounds the chance-collision candidate tail instead (see
    * the tuner's pricing table).
    *
    * Scale posture (reworked per ADVICE r14): the arriving micro-batch
    * carries only `(doc_id, band, key)` through the bucket probe — the
    * shingle arrays are NOT duplicated across the exploded band rows
    * (the prior shape shipped the full array 32×); candidates dedupe to
    * `(doc_id, doc_b)` before any array moves, and the exact-Jaccard
    * verify re-joins both shingle sets by id. The per-batch work runs
    * through `foreachBatch`, where the micro-batch is a static relation
    * (one persist, arbitrary batch joins) — the production intake shape
    * for a gate whose verdict is final within the batch; at corpus
    * scale the bucket relation is pre-partitioned on its key and the
    * batch shuffles to it — never an all-pairs comparison. The static
    * index caches are released after the drain (the r13 CacheScope
    * discipline — repeated library invocations no longer accumulate
    * entries). One deliberate test-SF convenience (ADVICE r15 #2): the
    * per-batch VERDICTS collect into a driver-side ledger so the method
    * can return a deterministic DataFrame — the in-batch probe/verify
    * plan is the production shape, but a deployment appends each
    * batch's verdict rows to a durable sink (parquet/Delta) inside the
    * same foreachBatch instead of holding the stream's lifetime of
    * verdicts in driver memory. */
  def nearDupAdmission(outer: SparkSession, dir: String,
      threshold: Double = 0.8, numHashes: Int = 128, bands: Int = 0,
      shingleN: Int = 3,
      maxBucket: Int = graft.operators.Dedup.bucketCap): DataFrame = {
    import org.apache.spark.sql.functions.{max => fmax}
    import graft.operators.Dedup
    // this lane's cost is the in-batch LSH probe + exact-verify JOINS,
    // not state commits: the child default of 4 state partitions would
    // run the bucket and verify exchanges 8× under-parallel (measured
    // 19.9s → 8.3s at sf1 when widened back to the session width)
    val spark = childSession(outer, "spark.sql.shuffle.partitions" ->
      outer.sessionState.conf.numShufflePartitions.toString)
    val (index, nIndex) = Dedup.shingleBase(
      spark.read.parquet(s"$dir/documents.parquet")
        .where(pmod(col("doc_id"), lit(5)) =!= 4), shingleN)
    // stream and batch MUST bucket identically: the banding resolves
    // once from the index corpus size
    val (nBands, nRows) =
      if (bands > 0) (bands, numHashes / bands)
      else Dedup.lshBandingFor(nIndex, numHashes, threshold)
    val idxRaw = Dedup.bandRows(index, "doc_b", numHashes, nBands, nRows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE-TIME hot-bucket cap on the persisted index (r16, VERDICT r15
    // ask #5, the batch face's maxBucket policy): a (band, key) bucket
    // with > maxBucket members is exact-dup-like mass that belongs to
    // the exact-dedup lane, and at LSH's intrinsic fp constant it is
    // also where probe×index co-bucket pairs densify quadratically. The
    // cap is INERT at every measured scale (no bucket exceeds 1024) and
    // amortizes across the stream's lifetime of micro-batches — the
    // deployment posture SCALING.md's r15 investigation prescribed.
    //
    // FUSED (r17, VERDICT r16 #2 on st31): the hot-bucket count IS the
    // eager-materializing action (it reads every cached partition, so the
    // leaf cache is populated before AQE can race the probe sides — the
    // shingleBase lesson holds), and the anti-join + second cache exist
    // ONLY when a hot bucket is actually present: an anti-join against
    // zero hot keys is the identity, so the capped result is
    // byte-identical on both paths.
    val hot = Dedup.overCapBlocks(idxRaw, Seq("band", "key"), maxBucket)
    val nHot = hot.count()
    val idxBuckets =
      if (nHot == 0L) idxRaw
      else idxRaw.join(hot, Seq("band", "key"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verdicts =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double])]
    try {
    if (nHot > 0L) {
      // materialize the CAPPED index once, then drop the raw scaffolding —
      // exactly one bucket cache lives for the stream's lifetime
      idxBuckets.count()
      idxRaw.unpersist(false)
    }
    drain(named("st31_neardup", dir), tableStream(spark, dir, "documents")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the Staging.spread discipline applies inside a micro-batch
        // too: the arriving batch's split count is file-bound (10
        // splits at sf1) while the signature+verify work is the cost —
        // one narrow exchange of the filtered slice buys full-width
        // CPU on the probe (measured 22.2s -> 8s class at sf1)
        val sets = Dedup.shingleSets(
            graft.functions.Staging.spread(
              batch.where(pmod(col("doc_id"), lit(5)) === 4)), shingleN)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val cand = Dedup.bandRows(sets, "doc_id", numHashes, nBands, nRows)
            .join(idxBuckets, Seq("band", "key"))
            .select("doc_id", "doc_b").distinct()
          val best = Dedup.withJaccard(cand
              .join(Dedup.hashedSide(index, "doc_b", "b"), "doc_b")
              .join(Dedup.hashedSide(sets, "doc_id", "a"), "doc_id"))
            .groupBy("doc_id")
            .agg(fmax(when(col("jaccard") >= threshold, col("jaccard")))
              .as("dup_j"))
          val out = sets.select(col("doc_id"))
            .join(best, Seq("doc_id"), "left_outer")
            .collect()
          verdicts.synchronized {
            verdicts ++= out.map(r => (r.getLong(0),
              if (r.isNullAt(1)) None else Some(r.getDouble(1))))
          }
          ()
        } finally { sets.unpersist(false); () }
      })
    } finally {
      // released on failure paths too (r15 review): a library caller
      // embedding this gate must not accrue corpus-scale caches per
      // failed invocation (idxRaw unpersist is idempotent — it already
      // dropped on the success path right after the capped index
      // materialized)
      idxRaw.unpersist(false)
      idxBuckets.unpersist(false)
      index.unpersist(false); ()
    }
    import spark.implicits._
    verdicts.toSeq.toDF("doc_id", "dup_j")
      .select(col("doc_id"), round(col("dup_j"), 6).as("dup_jaccard"),
        col("dup_j").isNull.as("admitted"))
      .orderBy("doc_id")
  }
}

/** `StatefulProcessor` for [[StreamingQueries.transformWithStateCounts]]:
  * keyed by `user_id`, holding a `MapState[event_type -> running count]`.
  * Each composite-key entry is an individually updatable row in the RocksDB
  * state store — an arriving event rewrites ONE (user, type) cell, not a
  * re-serialized per-user blob, which is the per-update cost that matters
  * when the key space is billions of users. Emits the per-batch delta per
  * (user, type); downstream summation reconstructs the total count.
  */
class TypeCountsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), (Long, String, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode,
    TimerValues, TTLConfig}

  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    counts = getHandle.getMapState[String, Long](
      "typeCounts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, String)],
      timers: TimerValues): Iterator[(Long, String, Long)] = {
    // fold the batch locally first: one state-store write per touched
    // (user, type) cell per batch, not one per input row
    val deltas = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    rows.foreach { case (_, t) =>
      deltas.update(t, deltas.getOrElse(t, 0L) + 1L)
    }
    deltas.iterator.map { case (t, d) =>
      val prev = if (counts.containsKey(t)) counts.getValue(t) else 0L
      counts.updateValue(t, prev + d)
      (key, t, d)
    }
  }
}
