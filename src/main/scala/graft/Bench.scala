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
  *    genuine cross-draw median.
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
  *    completes. A later draw that would measure no query (every query
  *    light) is not run, so `ndraws` and `draws` count only draws that
  *    measured something.
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
  *    hand, never clobbered.
  *  - QUERY LEDGER: a [[QueryLedger]] rides the session. Its window
  *    opens untimed just before each measured run's clock starts and
  *    closes after the clock stops and the listener bus drains; every
  *    detail entry carries the record of the query's most recent
  *    measuring run: jobs, stages, tasks, task failures, executor
  *    run/CPU/GC seconds, shuffle/spill/input/output MB, driver-only
  *    seconds (wall with no job running) and `complete` (false when a
  *    drain timed out).
  *  - LIGHT-TAIL SECOND PASS (r12, ADVICE r11 #3): after the planned
  *    draws, leftover budget re-measures the light tail once so its
  *    queries get a min-of-2 instead of a frozen cold draw-1 value
  *    (min, not mean: the noise being corrected is one-sided upward,
  *    and the re-measure itself runs last in the session so it can
  *    carry end-of-suite drag); `light_passes` discloses whether it
  *    ran.
  *  - PROTOCOL FROZEN (r13, VERDICT r12 ask #1): the estimator above
  *    does not change, so round-over-round per-query deltas stay
  *    comparable. Telemetry such as the ledger may be added outside the
  *    timed region only.
  *
  * Usage: `runMain graft.Bench [--force] [name,name,...]`. The names
  * restrict the run to those registered queries; an unknown name fails
  * the run before any session starts. The environment knobs it reads
  * (cores, data dir, draws, budget) are parsed and checked
  * once by [[Config]].
  */
object Bench {
  private val warmupDir = "/root/testdata/sf0.001"

  /** Draw-1 seconds above which a query re-measures in later draws. At
    * 2.0 the re-measured set is the ~45-query heavy tail, where
    * cross-draw medians move the total, and draw 2 fits the budget on a
    * loaded host (at 1.0 it did not). */
  private val LightThresh = 2.0

  private val usage = "usage: runMain graft.Bench [--force] [name,name,...]"

  /** The queries draws after the first skip: green in draw 1 (name ->
    * (seconds, ok)) and at most [[LightThresh]] seconds there. */
  private[graft] def lightQueries(draw1: Map[String, (Double, Boolean)]): Set[String] =
    draw1.collect { case (n, (sec, ok)) if ok && sec <= LightThresh => n }.toSet

  /** Whether a draw that skips `skip` measures any of `names`. A draw
    * that measures none is not run: its total would only repeat the
    * previous draw's as if it were an independent draw. */
  private[graft] def admitsAny(names: Seq[String], skip: Set[String]): Boolean =
    names.exists(n => !skip(n))

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

  private def runOne(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      dir: String, ledger: Option[QueryLedger] = None): (Double, Boolean) = {
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
    // NO hygiene System.gc(): a full GC unloads prior queries' generated
    // classes, and HotSpot discards every compiled method that inlined
    // through them, so an array-kernel-bound query then runs at
    // interpreter speed for most of a draw (10-25× real CPU). The sf0.1
    // A/B (bench/archive BENCH_DETAIL_r12_sf01_gcprotocol_{on,off}.json)
    // measured gc-off 13% faster in total; the G1 heap absorbs the debris.
    // the ledger window opens last, untimed (the clock hasn't started)
    ledger.foreach(_.open())
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
    val ledger = new QueryLedger(spark.sparkContext)

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

    // ---- multi-draw measurement (see the scaladoc) ----
    // Admission for the next draw is predicted from the per-query WALL
    // cost actually observed (hygiene included), not from the last
    // draw's full wall.
    case class QDraw(sec: Double, ok: Boolean, wall: Double,
        record: QueryLedger.Record)
    val benchT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchT0) / 1e9
    // draw = one pass over the non-skipped suite, ONE timed run per query
    // (r11: outlier protection lives entirely in the cross-draw median —
    // intra-draw re-runs doubled the draw's wall and starved the driver
    // to ndraws:1, see the scaladoc)
    val drawsDone =
      scala.collection.mutable.ArrayBuffer.empty[Map[String, QDraw]]
    def oneDraw(skip: Set[String]): Map[String, QDraw] =
      selected.flatMap { case (name, fn) =>
        if (skip(name)) None
        else {
          val w0 = System.nanoTime()
          val (sec, ok) = runOne(spark, name, fn, sfDir, Some(ledger))
          // clock already stopped: the ledger drains the bus, then records
          val record = ledger.close(sec)
          val wall = (System.nanoTime() - w0) / 1e9
          Some(name -> QDraw(sec, ok, wall, record))
        }
      }.toMap
    val names = selected.map(_._1)
    var skip = Set.empty[String]
    // predicted wall of a draw over the queries `measured` admits: the
    // most recent observed wall of each
    def predictedWall(measured: String => Boolean): Double = selected.iterator
      .collect { case (n, _) if measured(n) =>
        drawsDone.reverseIterator.flatMap(_.get(n).map(_.wall))
          .nextOption().getOrElse(0.0)
      }.sum
    while (drawsDone.size < cfg.draws
        && (drawsDone.isEmpty || admitsAny(names, skip)
          && elapsed + predictedWall(n => !skip(n)) <= cfg.budgetSec)) {
      drawsDone += oneDraw(skip)
      if (drawsDone.size == 1)
        skip = lightQueries(drawsDone.head.map { case (n, q) => n -> (q.sec, q.ok) })
      System.err.println(f"[bench] draw ${drawsDone.size} done " +
        f"(${drawsDone.last.size} queries, measured " +
        f"${drawsDone.last.valuesIterator.map(_.sec).sum}%.1fs, " +
        f"wall ${drawsDone.last.valuesIterator.map(_.wall).sum}%.1fs)")
    }
    val plannedDraws = drawsDone.size

    // LIGHT-TAIL SECOND PASS (see the scaladoc): otherwise the light
    // tail is one cold draw-1 run, biased only upward by host noise. A
    // draw loop that stopped for want of heavy queries had draws left.
    var lightPasses = 0
    val drawsLeft = plannedDraws >= 2 || cfg.draws >= 2 && !admitsAny(names, skip)
    if (drawsLeft && skip.nonEmpty) {
      val heavy = names.toSet -- skip
      if (elapsed + predictedWall(skip) <= cfg.budgetSec) {
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
    // measuring draw green. A light query with the tail re-measure has
    // exactly TWO samples: under one-sided upward noise a 2-sample median
    // (= mean) spreads an outlier instead of removing it, so it takes
    // the min; 3+ samples keep the median.
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
      // the most recent measuring run's ledger record stands for the query
      val record = per.last.record.jsonFields
      s""""$k":{"sec":$t,"ok":$ok,"draws":$perDraw,$record}"""
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
