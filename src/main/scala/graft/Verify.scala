package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [name,name,...]`. The
  * optional names (local iteration only) restrict the dump to those
  * registered queries; an unknown name fails the run. A lane that throws
  * leaves no parquet dir; the others still run, and the main ends with
  * one `[verify] k of n lanes failed: ...` stderr line and exit code 1. */
object Verify {
  private val usage = "usage: runMain graft.Verify <sfDir> <outDir> [name,name,...]"

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(sf, out) => (sf, out, None)
      case Array(sf, out, names) =>
        (sf, out, Some(Config.queryNames("Verify query names", names).toSet))
      case _ => Config.usage(usage)
    }
    val spark = Config.env.session()
    new java.io.File(outDir).mkdirs()
    val lanes = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => name -> { () =>
        // release any relation a previous query's operator persisted —
        // bounded cache footprint across the 80+-query dump
        spark.catalog.clearCache()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } }
    val failed = runLanes(lanes)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // same clean-exit discipline as Bench: the st* queries leave RocksDB
    // state-store providers loaded, and the default JVM shutdown raced
    // their native teardown in r8 (SIGSEGV at exit). Artifacts are all on
    // disk by now; halt gives the driver rc 0, or 1 when a lane failed.
    CleanExit.teardown(spark)
    if (failed.nonEmpty) System.err.println(
      s"[verify] ${failed.size} of ${lanes.size} lanes failed: ${failed.mkString(", ")}")
    CleanExit.halt(if (failed.isEmpty) 0 else 1)
  }

  /** Runs every `(name, run)` lane in order. A lane that throws is
    * reported on stderr and the rest still run; returns the names of the
    * lanes that threw, in order. */
  def runLanes(lanes: Seq[(String, () => Unit)]): Seq[String] =
    lanes.flatMap { case (name, run) =>
      try { run(); None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
}
