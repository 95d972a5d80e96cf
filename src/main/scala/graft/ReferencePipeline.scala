package graft

import java.util.Locale

import org.apache.spark.sql.{Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BloomPipeline, FilterStore, Ingest, Ratings}

/** The reference's complete 4-job workflow as one program — what a user of
  * `map-reduce-bloom-filter` actually runs today (`sh-scripts/0..3`),
  * re-expressed end to end:
  *
  *   0. split: ratings TSV → train/test (60/40, seeded)
  *   1. linecount: per-rating counts → single text file (getmerge analog)
  *   2. builder: per-rating Bloom filters → persisted artifact
  *   3. tester: reload the artifact once, collect it into a broadcast
  *      [[graft.core.GroupFilters]] (the testers' own shape,
  *      `bloomfilters_tester.py:81`), probe the held-out split once with
  *      [[BloomPipeline.fpStatsCollected]] → per-rating FP table; the
  *      printed report and the results text come from the same collected
  *      rows
  *
  * Usage: `runMain graft.ReferencePipeline <ratings.tsv dir> <p> <outDir>`
  * Prints the per-rating FP-rate table (the reference report's §6 shape)
  * and writes linecount text, the filter parquet artifact, and the results
  * text under `outDir`.
  */
object ReferencePipeline {

  private val usage = "usage: runMain graft.ReferencePipeline <ratings.tsv dir> <p> <outDir>"

  def main(args: Array[String]): Unit = {
    val parsed = args match {
      case Array(tsvDir, pStr, outDir) => pStr.toDoubleOption.map((tsvDir, _, outDir))
      case _ => None
    }
    val (tsvDir, p, outDir) = parsed.getOrElse {
      System.err.println(usage)
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, tsvDir, p, outDir).foreach(println)
    finally spark.stop()
  }

  /** One FP-table line, `rating\tfalsePositives\ttotal\tfpRate`, formatted
    * as Spark's `format_string` formats it (Locale.US). */
  private def statLine(r: Row): String =
    "%d\t%d\t%d\t%.8f".formatLocal(Locale.US,
      r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))

  /** Returns the printed report lines (so tests can assert on them). */
  def run(spark: SparkSession, tsvDir: String, p: Double, outDir: String): Seq[String] = {
    // same check and message as BloomFilter.numHashes, before any job or
    // output is written
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")

    // job 0 — ingest + split (reference split-dataset.py; seeded for rerun
    // stability, disjointness by row identity)
    val obs = new Observation(s"ingest_${System.identityHashCode(spark)}_${outDir.hashCode}")
    val ratings = Ingest.readRatingsTsvObserved(spark, tsvDir, obs)
    val Array(train, test) = Ratings.randomSplit(ratings, seed = 42L)

    // buildFilters persists train; released however the stages end
    val stats = try {
      // job 1 — linecount, merged to one text file (reference 1_launch +
      // getmerge): "rating\tcount" lines
      BloomPipeline.linecount(train)
        .select(format_string("%d\t%d", col("rating"), col("n")).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$outDir/linecount")

      // job 2 — build + persist the filter artifact
      FilterStore.save(BloomPipeline.buildFilters(train, p), s"$outDir/filters")

      // job 3 — reload the artifact, broadcast it, probe the held-out split
      // once; train/test disjoint, so every hit is a false positive
      // (reference §5.1 contract). At most one row per rating comes back,
      // in the aggregate's partition order.
      val filters = spark.sparkContext.broadcast(
        BloomPipeline.collectFilters(FilterStore.load(spark, s"$outDir/filters")))
      try BloomPipeline.fpStatsCollected(test, filters).collect()
      finally filters.destroy()
    } finally train.unpersist()

    // the results text keeps the collected (partition) order, the order a
    // coalesced write of the aggregate produces; the report is by rating
    spark.createDataset(stats.toSeq.map(statLine))(Encoders.STRING)
      .coalesce(1).write.mode("overwrite").text(s"$outDir/results")

    val header = Seq(
      f"ingested=${obs.get("total_rows")} corrupt_dropped=${obs.get("corrupt_rows")} p=$p%.4f",
      "rating\tfalsePositives\ttotal\tfpRate")
    header ++ stats.sortBy(_.getInt(0)).map(statLine)
  }
}
