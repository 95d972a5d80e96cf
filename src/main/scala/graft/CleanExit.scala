package graft

import org.apache.spark.sql.SparkSession

/** Orderly JVM shutdown for the harness mains (`Bench`, `Verify`).
  *
  * Round-8 post-mortem: the bench JVM SIGSEGV'd at exit inside
  * `rocksdb::StatisticsImpl::getTickerCountLocked` (`hs_err_pid32549.log`)
  * — a native RocksDB statistics thread touching a DB the default JVM
  * shutdown sequence had already torn down. All 235 queries had finished
  * and the result line had printed, but the crash banner landed in the
  * driver's 2000-byte stdout tail window and pushed the parseable JSON
  * line out of it: `BENCH_r08.json` recorded `"parsed": null` for a fully
  * green run. Two defenses, both here:
  *
  *  1. [[teardown]] stops any straggler streaming query, unloads every
  *     loaded state-store provider ([[stopStateStores]]: drained
  *     AvailableNow streams leave their RocksDB providers open
  *     process-wide; this closes the native DBs and stops the
  *     maintenance thread while the JVM is still healthy), deletes the
  *     streams' scratch directories, then stops the session itself.
  *  2. [[halt]] ends the process with `Runtime.halt` immediately after
  *     the caller's final output line — no shutdown hooks, no
  *     native-thread teardown race, no crash banner can ever print after
  *     the parseable line. The caller flushes via halt, not before.
  *
  * `CleanExitSpec` reproduces the failure shape in a forked JVM (RocksDB
  * stateful stream → teardown → marker line → halt) and asserts rc 0 with
  * the marker as the final stdout line.
  */
object CleanExit {

  /** Best-effort release of everything that owns native or background
    * resources: active streaming queries, state-store providers (RocksDB
    * JNI handles + maintenance thread), the streams' scratch directories,
    * then the session. Call it after the last result is consumed. Never
    * throws — the artifact line must print even if teardown misbehaves. */
  def teardown(spark: SparkSession): Unit = {
    try spark.streams.active.foreach { q =>
      try q.stop()
      catch { case _: Throwable => }
    } catch { case _: Throwable => }
    stopStateStores()
    try graft.streaming.StreamingQueries.removeScratch(spark)
    catch { case _: Throwable => }
    try spark.stop()
    catch { case _: Throwable => }
  }

  /** Unloads every loaded state-store provider, closing RocksDB's native
    * handles. Providers reload lazily, so a session that keeps running
    * streams afterwards is unaffected. Never throws. */
  def stopStateStores(): Unit =
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }

  /** Flush stdout/stderr and end the process NOW (no shutdown hooks, no
    * further output possible). Call only after the final artifact line. */
  def halt(code: Int): Unit = {
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }
}
