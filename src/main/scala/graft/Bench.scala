package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"ok":{...},"sf":...}`.
  *
  * Methodology (fixes the round-1 hole, VERDICT.md r1 "What's wrong" #1/#6,
  * and the r4 fixture-timing + tail-noise items #1/#2/#8):
  *  - results go to the `noop` datasource, not `.count()` — a count lets
  *    Catalyst prune every unused projection/aggregate expression, so e.g.
  *    a bloom build benched as an empty aggregate. `noop` materializes
  *    every column of every row and discards them.
  *  - one warm-up pass over all queries at sf0.001 (~6k rows) so JIT /
  *    codegen compilation doesn't land on the first measured query.
  *  - an untimed setup pass materializes every [[SparkEntry.fixtures]]
  *    artifact (reload/ingest sources, bucketed tables) for the measured
  *    dir, so a round-trip query's timed region is its scan/probe, not its
  *    fixture sink.
  *  - ONE run per query per draw (r11, per the r10 verdict's #1 ask).
  *    Rounds 5–10 re-ran every query above a 1.5s threshold twice more
  *    inside each draw and reported the min-of-3 — that outlier
  *    protection is now the cross-draw median's job alone. Rationale
  *    (quantified in VERDICT r10): the intra-draw re-runs cost ~488s of
  *    wall on a 344s measured suite, which is exactly what starved the
  *    r9 and r10 driver runs to `ndraws: 1` — a single COLD draw with
  *    no outlier protection at all, the worst of both estimators. One
  *    run per query makes a full draw's wall ≈ its measured time, so
  *    the 1800s budget admits 2–3 draws and the official number is a
  *    genuine cross-draw median. NOTE for cross-round comparison:
  *    r1–r4 reported median-of-3 above 3.0s, r5–r10 min-of-3 above
  *    1.5s; r11+ reports single runs medianed across draws, so per-query
  *    deltas across those boundaries conflate the estimator change with
  *    real speedups.
  *  - a failing query contributes `ok=false` instead of silently
  *    contributing a fast time.
  *  - MULTI-DRAW protocol (r8, per the r7 verdict's #1 ask): the whole
  *    measured suite runs `SPARK_GRAFT_DRAWS` times (default 3) in one
  *    process, and the OFFICIAL per-query number is the MEDIAN of its
  *    per-draw values (one run each). Draws ≥ 2 are LIGHT (r10): only queries above
  *    [[LightThresh]] (2.0s) re-measure — the
  *    light tail keeps its full-draw-1 value — so a second draw
  *    fits the budget on a loaded host and the driver's artifact is a
  *    median where a median can matter (r9: the driver admitted only
  *    one cold 371s draw because full-draw wall ≈ 2 × measured time). Rationale: the r7 official draw recorded dedup_containment
  *    at 21.3s while five sibling draws put it at 2–4s — within one draw
  *    the interference is sometimes STICKY (all three intra-draw runs
  *    land inside the same noise event), so only a cross-draw estimator
  *    kills it; the median keeps one bad draw from ever being the
  *    committed number. Draw totals and their spread are published in the
  *    output (`draws`, `draws_median`), so the grading error bar is
  *    visible in the artifact itself. A wall-clock budget
  *    (`SPARK_GRAFT_BENCH_BUDGET_SEC`, default 1800) stops admitting new
  *    draws when the next one would overrun — at least one draw always
  *    completes. NOTE for cross-round comparison: r5–r7 published a
  *    single draw; one noisy draw could dominate a round delta there.
  *  - OUTLIER GUARD (r7 verdict ask #6): if the official total deviates
  *    >25% above the session's best draw total, the detail artifact is
  *    diverted to `BENCH_DETAIL_OUTLIER.json` unless `--force` is passed
  *    — publishing a noise-dominated number as the committed detail file
  *    is a deliberate act, never an accident.
  *  - the full per-query detail (every run of every query in every draw)
  *    is written to `BENCH_DETAIL.json` in the working directory — stdout
  *    tail-capture truncates, the file doesn't. Since r14 that working
  *    copy is GITIGNORED (VERDICT r13 ask #4): the driver's end-of-round
  *    pass overwrites it freely, and the COMMITTED record is the
  *    `bench/archive/BENCH_DETAIL_r*` officials — promoted there by
  *    hand, never clobbered. (Process-only change; the measurement
  *    channel below is untouched.)
  *  - SLOW-RUN STAGE TRACER (r12, per the r11 verdict's #1 ask): a
  *    [[StageTracer]] rides the session; any run whose wall exceeds 3×
  *    the query's archived median (read from the committed
  *    BENCH_DETAIL.json before this run overwrites it) gets its
  *    per-stage metrics (wall, run/CPU/GC time, shuffle, spill, task
  *    max/median) embedded as `slow_trace` in the detail entry — so a
  *    loaded-host anomaly like r9–r11's dedup_containment carries its
  *    own diagnosis: spill/GC/skew → fix the query; high `unaccounted`
  *    or run≪wall with no spill → host/scheduler delay, proven.
  *  - LIGHT-TAIL SECOND PASS (r12, ADVICE r11 #3): after the planned
  *    draws, leftover budget re-measures the light tail once so its
  *    queries get a min-of-2 instead of a frozen cold draw-1 value
  *    (min, not mean: the noise being corrected is one-sided upward,
  *    and the re-measure itself runs last in the session so it can
  *    carry end-of-suite drag); `light_passes` discloses whether it
  *    ran.
  *  - PROTOCOL FROZEN (r13, VERDICT r12 ask #1). The measurement channel
  *    is FINAL as configured in r12: gc-off hygiene, ONE timed run per
  *    query per draw, cross-draw MEDIAN for the heavy set
  *    (> [[LightThresh]], 2.0s), MIN-of-2 when the
  *    light tail's single re-measure gives a query exactly two samples,
  *    streaming-last deterministic order, 3-draw / 1800s-budget
  *    admission. Three consecutive estimator changes (r10 min-of-3 →
  *    r11 cross-draw median → r12 gc-off + light min-of-2) made no two
  *    consecutive officials directly comparable; from r13 on the
  *    estimator does not change, so round-over-round per-query deltas
  *    are clean. Telemetry MAY still be added outside the timed region —
  *    r13 adds per-query shuffle/spill/input/output BYTE totals to the
  *    detail artifact (VERDICT r12 ask #3: time ratios prove local CPU
  *    shape; exchange bytes are the cluster-network half local[32]
  *    can't time). Captured after each run from the [[StageTracer]],
  *    after the clock stops — the estimator is untouched.
  *
  * Usage: `runMain graft.Bench [--force] [name,name,...]`. The names
  * restrict the run to those registered queries; an unknown name fails
  * the run before any session starts. The environment knobs it reads
  * (cores, data dir, draws, budget, forced traces) are parsed and checked
  * once by [[Config]].
  */
object Bench {
  private val warmupDir = "/root/testdata/sf0.001"

  /** Draw-1 seconds above which a query re-measures in later draws. */
  private val LightThresh = 2.0

  private val usage = "usage: runMain graft.Bench [--force] [name,name,...]"

  /** Median (numeric: mean of the two middles for even counts). */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The outlier guard, pure for unit testing: where does the detail
    * artifact go? >25% above the best draw without --force → diverted. */
  private[graft] def detailPath(officialTotal: Double,
      drawTotals: Seq[Double], force: Boolean): String =
    if (!force && drawTotals.nonEmpty
        && officialTotal > 1.25 * drawTotals.min)
      "BENCH_DETAIL_OUTLIER.json"
    else "BENCH_DETAIL.json"

  /** Archived per-query medians from the committed BENCH_DETAIL.json —
    * the slow-run tracer's reference point (VERDICT r11 ask #1: trace a
    * query when its wall exceeds ~3× the archived builder median). Read
    * BEFORE this run overwrites the file; a missing/garbled file just
    * means no baselines (new queries trace on an absolute threshold). */
  private[graft] def loadBaseline(path: String): Map[String, Double] =
    try {
      val txt = scala.io.Source.fromFile(path)
      val s = try txt.mkString finally txt.close()
      val re = """"([A-Za-z0-9_]+)":\{"sec":([0-9.eE+-]+)""".r
      re.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Exception => Map.empty }

  private def runOne(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      dir: String, tracer: Option[StageTracer] = None): (Double, Boolean) = {
    // each query pays its own full cost: operators that persist shared
    // subtrees (bloom builds, dedup stages) must not hand a warm cache to
    // the next measured query
    spark.catalog.clearCache()
    // clearCache drops blocks ASYNCHRONOUSLY; the previous query's block
    // removal otherwise overlaps this query's timed region (one of the
    // r11 in-suite variance hypotheses for dedup_jaccard_exact). A
    // blocking unpersist of whatever RDDs remain makes release complete
    // BEFORE the clock starts.
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    catch { case _: Exception => }
    // the sink queries leave hundreds of MB of dirty pages behind; the
    // kernel's deferred writeback otherwise lands as a ~10s stall INSIDE
    // one random later query's timing per run — flush here, untimed
    try new ProcessBuilder("sync").inheritIO().start().waitFor()
    catch { case _: Exception => }
    // NO hygiene System.gc() since r12. It was added when
    // earlier queries' heap debris surfaced as collection pauses inside
    // random queries (r8: a2_indexed_equiv 7.2s mid-suite vs 2.4s) —
    // but a full GC also UNLOADS prior queries' generated classes, and
    // HotSpot zombifies every compiled method that inlined through
    // them: the r12 PrintCompilation study caught the shared
    // ArrayIntersect kernel cycling compiled → not-entrant → zombie
    // around these collections, after which an array-kernel-bound query
    // runs at interpreter speed for most of a draw (10-25× real CPU on
    // identical input — the dedup_containment artifact mystery of
    // r9-r12). The full-suite A/B at sf0.1 (archived:
    // BENCH_DETAIL_r12_sf01_gcprotocol_{on,off}.json) measured the
    // gc-off protocol 13% faster in total (310.3 vs 356.8s), ~100s less
    // wall per full draw, worst single-query regression +0.6s, and the
    // original a2 pause case IMPROVED (1.89 → 1.58s) — the 24g G1 heap
    // absorbs the debris incrementally.
    // drain in-flight listener events from the PREVIOUS query before
    // clearing, so its late stage-completions can't leak into this
    // query's byte/trace window (untimed — the clock hasn't started)
    tracer.foreach { t =>
      org.apache.spark.GraftBus.drain(spark.sparkContext, 2000)
      t.clear() // fresh stage window for the timed region
    }
    val t0 = System.nanoTime()
    val ok =
      try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  def main(args: Array[String]): Unit = {
    // locale-proof EVERY f-interpolated number in the JSON artifacts at
    // the source (ADVICE r15 #1): under a comma-decimal default locale,
    // %.3f renders "0,42" and the artifact stops being JSON. One global
    // default beats spot-fixing each field (the f1-helper lesson).
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val (flags, positional) = args.partition(_.startsWith("--"))
    if (flags.exists(_ != "--force") || positional.length > 1) Config.usage(usage)
    val force = flags.nonEmpty
    // optional local-iteration filter: bench only the named queries
    val only = positional.headOption.map(Config.queryNames("Bench query names", _).toSet)
    val cfg = Config.env
    val sfDir = cfg.sfDir
    // pre-flight host-load disclosure (VERDICT r14 ask #3): the r14
    // driver official sat 10% above the same build's quiet-window number
    // purely on host load; carrying launch loadavg in EVERY emitted
    // artifact line lets rounds be compared without forensics
    val loadavg0 =
      try java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      catch { case _: Exception => -1.0 }
    // belt-and-braces on top of the Locale.ROOT default above (a future
    // caller invoking the suite without main() keeps a valid artifact)
    val loadavgJson = f"$loadavg0%.2f".replace(",", ".")
    val spark = cfg.session()

    // slow-run stage tracer (r11 ask #1): reference medians come from the
    // committed artifact, read before this run overwrites it
    val baseline = loadBaseline("BENCH_DETAIL.json")
    val tracer = new StageTracer
    spark.sparkContext.addSparkListener(tracer)

    val selected0 = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    // Deterministic run order, streaming LAST: each drained stream leaves
    // per-session debris (state-store providers, memory sinks, listener
    // registrations) that measurably drags later CPU-saturating queries —
    // isolating the st* block at the end keeps every batch query's number
    // clean and makes ordering stable across rounds. (Map iteration order
    // would otherwise reshuffle with every added query.)
    val selected = selected0.toSeq.sortBy { case (n, _) => (n.startsWith("st"), n) }

    if (new java.io.File(warmupDir).isDirectory) {
      selected.foreach { case (name, fn) =>
        runOne(spark, name, fn, warmupDir)
      }
    }
    // warm the target-SF files (untimed): the first touch of each table's
    // pages otherwise lands inside whichever measured query happens to
    // read that table first
    graft.operators.Tables.names.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Exception => }
    }
    // untimed setup: materialize round-trip fixtures + bucketed tables so
    // the timed queries measure their read/probe, not their fixture sink
    SparkEntry.fixtures.foreach { case (name, fn) =>
      try fn(spark, sfDir)
      catch { case e: Exception =>
        System.err.println(s"[bench] fixture $name failed: ${e.getMessage}")
      }
    }

    // ---- multi-draw measurement ----
    // LIGHT SUBSEQUENT DRAWS (r9 verdict ask #5): the r9 driver artifact
    // was a single cold draw (ndraws:1) because a FULL draw's wall clock
    // — measured time plus 252 × (clearCache + sync + gc) hygiene — blew
    // the admission check for draw 2. Draws ≥ 2 therefore re-measure only
    // the queries whose draw-1 official exceeds `LightThresh` (first
    // 1.0s; r9 data: 127 of 252 queries carrying 292 of 371 measured
    // seconds), reusing the draw-1 value for the sub-second tail where a
    // cross-draw median cannot change the total materially. Admission for
    // the next draw is predicted from the per-query WALL cost actually
    // observed (hygiene included), not from the last draw's full wall.
    // 2.0s (raised from 1.0 after the first r10 full run): at
    // 1.0 the light set was ~130 queries whose observed wall predicted
    // just over the remaining budget on a loaded host — the exact
    // regression this protocol exists to prevent. At 2.0 the light set
    // is the ~45-query heavy tail (where cross-draw medians actually
    // move the total) and draw 2 admits with ~200s margin.
    case class QDraw(sec: Double, ok: Boolean, runs: Seq[Double],
        wall: Double, bytes: Option[StageTracer.Bytes] = None)
    val benchT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchT0) / 1e9
    // draw = one pass over the non-skipped suite, ONE timed run per query
    // (r11: outlier protection lives entirely in the cross-draw median —
    // intra-draw re-runs doubled the draw's wall and starved the driver
    // to ndraws:1, see the scaladoc)
    val drawsDone =
      scala.collection.mutable.ArrayBuffer.empty[Map[String, QDraw]]
    // per-query stage traces captured this run: name -> entries (one per
    // traced draw), each a JSON object. Capped so a systemically loaded
    // host can't bloat the artifact.
    val traces = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    var tracesLeft = 24
    // trace when the wall exceeds 3× the archived builder median (and is
    // not trivially small), or 10s absolute for queries with no archive
    // yet; SPARK_GRAFT_TRACE=name1,name2|all forces tracing regardless
    // (targeted diagnosis runs)
    val forceTrace = cfg.trace
    def shouldTrace(name: String, sec: Double, ok: Boolean): Boolean =
      ok && tracesLeft > 0 &&
        (forceTrace(name) || forceTrace("all") || (baseline.get(name) match {
          case Some(b) => sec > 2.0 && sec > 3.0 * b
          case None    => sec > 10.0
        }))
    def oneDraw(skip: Set[String]): Map[String, QDraw] =
      selected.flatMap { case (name, fn) =>
        if (skip(name)) None
        else {
          val w0 = System.nanoTime()
          val (sec, ok) = runOne(spark, name, fn, sfDir, Some(tracer))
          // per-query byte totals (r13, ask #3): clock already stopped;
          // drain so the final stage completions are counted
          org.apache.spark.GraftBus.drain(spark.sparkContext, 2000)
          val bytes = if (ok) Some(tracer.byteTotals) else None
          val wall = (System.nanoTime() - w0) / 1e9
          if (shouldTrace(name, sec, ok)) {
            tracesLeft -= 1
            org.apache.spark.GraftBus.drain(spark.sparkContext, 5000)
            val snap = tracer.snapshotJson(sec)
            val drawIdx = drawsDone.size + 1
            traces.getOrElseUpdate(name,
              scala.collection.mutable.ArrayBuffer.empty) +=
              s"""{"draw":$drawIdx,"sec":${f"$sec%.3f"},"trace":$snap}"""
            System.err.println(f"[bench] TRACE $name draw $drawIdx: " +
              f"$sec%.2fs vs baseline ${baseline.getOrElse(name, -1.0)}%.2fs" +
              " - stage metrics captured")
          }
          Some(name -> QDraw(sec, ok, Seq(sec), wall, bytes))
        }
      }.toMap
    var skip = Set.empty[String]
    // predicted wall of the next (light) draw: the most recent observed
    // wall of every query that would be re-measured
    def predictedNextWall: Double = selected.iterator
      .filterNot { case (n, _) => skip(n) }
      .map { case (n, _) =>
        drawsDone.reverseIterator.flatMap(_.get(n).map(_.wall))
          .nextOption().getOrElse(0.0)
      }.sum
    while (drawsDone.size < cfg.draws
        && (drawsDone.isEmpty || elapsed + predictedNextWall <= cfg.budgetSec)) {
      drawsDone += oneDraw(skip)
      if (drawsDone.size == 1)
        skip = drawsDone.head.collect {
          case (n, q) if q.ok && q.sec <= LightThresh => n
        }.toSet
      System.err.println(f"[bench] draw ${drawsDone.size} done " +
        f"(${drawsDone.last.size} queries, measured " +
        f"${drawsDone.last.valuesIterator.map(_.sec).sum}%.1fs, " +
        f"wall ${drawsDone.last.valuesIterator.map(_.wall).sum}%.1fs)")
    }
    val plannedDraws = drawsDone.size

    // LIGHT-TAIL SECOND PASS (ADVICE r11 #3): queries at or under
    // LightThresh are otherwise draw-1-only — one cold run, no outlier
    // protection, and host noise is one-sided (r5 data: up to 4× on
    // sub-3s first draws), so the freeze biases the official total only
    // UPWARD, compounding across the ~230-query light tail. If budget
    // remains after the planned draws, spend it re-measuring the light
    // tail exactly once; the official then takes the MIN of the two
    // samples (see the estimator note below — one-sided noise) instead
    // of a frozen cold run. `light_passes` in the artifact records
    // whether it ran, so a budget-starved run's draw-1-only status is
    // visible (the ADVICE's fallback disclosure).
    var lightPasses = 0
    if (plannedDraws >= 2 && skip.nonEmpty) {
      val heavy = selected.map(_._1).toSet -- skip
      def predictedLightWall: Double = selected.iterator
        .filter { case (n, _) => skip(n) }
        .map { case (n, _) =>
          drawsDone.reverseIterator.flatMap(_.get(n).map(_.wall))
            .nextOption().getOrElse(0.0)
        }.sum
      if (elapsed + predictedLightWall <= cfg.budgetSec) {
        drawsDone += oneDraw(heavy)
        lightPasses = 1
        System.err.println(f"[bench] light-tail pass done " +
          f"(${drawsDone.last.size} queries, measured " +
          f"${drawsDone.last.valuesIterator.map(_.sec).sum}%.1fs)")
      } else System.err.println("[bench] light-tail pass skipped " +
        "(budget) - light queries are draw-1-only this run")
    }

    // official per-query = median across the draws that measured it
    // (sub-threshold queries: their single full-draw value); ok = every
    // measuring draw green. EXCEPTION (r12): a light query that got the
    // tail re-measure has exactly TWO samples, and the noise this pass
    // exists to correct is ONE-SIDED upward (r5: up to 4× on sub-3s
    // first draws) — a 2-sample median (= mean) SPREADS an outlier
    // instead of removing it, and the re-measure itself can carry
    // end-of-suite drag (the r12 official caught the st tail's light
    // re-measures uniformly ~2s high: 28 drained streams re-run after
    // 3 full draws of session debris). Under one-sided noise min-of-2
    // is the consistent estimator; 3+ samples keep the median.
    val names = selected.map(_._1)
    val results = names.map { k =>
      val per = drawsDone.flatMap(_.get(k)).toSeq
      val sec = if (per.size == 2) per.map(_.sec).min
                else median(per.map(_.sec))
      k -> (sec, per.forall(_.ok))
    }
    // comparable per-draw totals: a light draw carries forward the most
    // recent measured value for each skipped query
    val drawTotals = drawsDone.indices.map { i =>
      names.map { k =>
        (0 to i).reverseIterator.flatMap(j => drawsDone(j).get(k).map(_.sec))
          .next()
      }.sum
    }.toSeq
    val qs = results.map { case (k, (t, _)) => s"\"$k\":$t" }
      .mkString("{", ",", "}")
    val oks = results.map { case (k, (_, ok)) => s"\"$k\":$ok" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    val drawsJson = drawTotals.map(t => f"$t%.2f").mkString("[", ",", "]")
    val drawsMedian = median(drawTotals)

    // lossless per-query artifact: every run of every query in every
    // draw, parseable regardless of the driver's stdout tail window
    val detail = results.map { case (k, (t, ok)) =>
      val per = drawsDone.flatMap(_.get(k)).toSeq
      val perDraw = per.map(p => f"${p.sec}%.3f").mkString("[", ",", "]")
      val runsJson = per.map(_.runs.map(r => f"$r%.3f").mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      val traceJson = traces.get(k)
        .map(es => s""","slow_trace":${es.mkString("[", ",", "]")}""")
        .getOrElse("")
      // shuffle-byte accounting (r13): bytes are plan-determined, so the
      // most recent measuring draw's totals stand for the query
      val bytesJson = per.reverseIterator.flatMap(_.bytes).nextOption()
        .map { b =>
          def f1(d: Double) = f"$d%.1f".replace(",", ".")
          s""","shufReadMB":${f1(b.shuffleReadMB)}""" +
          s""","shufWriteMB":${f1(b.shuffleWriteMB)}""" +
          s""","spillMB":${f1(b.spillMB)},"inputMB":${f1(b.inputMB)}""" +
          s""","outputMB":${f1(b.outputMB)}"""
        }.getOrElse("")
      s""""$k":{"sec":$t,"ok":$ok,"draws":$perDraw,"runs":$runsJson$bytesJson$traceJson}"""
    }.mkString("{", ",", "}")
    val target = detailPath(total, drawTotals, force)
    if (target != "BENCH_DETAIL.json")
      System.err.println(f"[bench] OUTLIER GUARD: official total $total%.1fs " +
        f"is >25%% above best draw ${drawTotals.min}%.1fs - detail diverted " +
        s"to $target (pass --force to publish anyway)")
    try {
      val w = new java.io.PrintWriter(target)
      try w.println(
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","nq":${results.size},"ndraws":$plannedDraws,"light_passes":$lightPasses,"loadavg":$loadavgJson,"draws":$drawsJson,"draws_median":$drawsMedian%.2f,"sf":"$sfDir","queries":$detail}""")
      finally w.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    val full =
      f"""{"metric":"total","value":$total,"unit":"sec","ndraws":$plannedDraws,"light_passes":$lightPasses,"loadavg":$loadavgJson,"draws":$drawsJson,"queries":$qs,"ok":$oks,"sf":"$sfDir"}"""

    // The driver keeps only the LAST ~2000 bytes of stdout and json-parses
    // line by line; the full-detail line above is ~5 KB and its head gets
    // truncated out of that window. Emit a compact final line that is
    // guaranteed to fit: times at 2 decimals, queries included slowest-first
    // until a 1900-byte budget is reached, the rest summarized as "omitted".
    val failed = results.collect { case (k, (_, false)) => s"\"$k\"" }
    val sorted = results.toSeq.sortBy { case (_, (t, _)) => -t }
      .map { case (k, (t, _)) => f""""$k":$t%.2f""" }
    val tailLen = s""","omitted":0,"failed":[${failed.mkString(",")}],"sf":"$sfDir"}""".length + 8
    val head = f"""{"metric":"total","value":$total%.2f,"unit":"sec","nq":${results.size},"ndraws":$plannedDraws,"light_passes":$lightPasses,"loadavg":$loadavgJson,"draws":$drawsJson,"draws_median":$drawsMedian%.2f,"queries":{"""
    val budget = 1900 - head.length - tailLen
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    sorted.foreach { e =>
      if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    }
    val compact = head + kept.mkString(",") +
      s"""},"omitted":${sorted.size - kept.size},"failed":[${failed.mkString(",")}],"sf":"$sfDir"}"""

    // Orderly native/background teardown BEFORE the final lines, hard
    // halt AFTER them: r8's RocksDB JNI shutdown SIGSEGV printed a crash
    // banner after the result line and pushed it out of the driver's
    // stdout tail window ("parsed": null). See CleanExit.
    CleanExit.teardown(spark)
    // Last two stdout lines: full detail (for human logs), then the
    // parseable compact.
    println(full)
    println(compact)
    CleanExit.halt(0)
  }
}
