package graft

import java.nio.charset.StandardCharsets
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.operators.{BloomPipeline, FilterStore, Ingest, Ratings}

/** The reference's complete 4-job workflow as one program — what a user of
  * `map-reduce-bloom-filter` actually runs today (`sh-scripts/0..3`),
  * re-expressed end to end:
  *
  *   0. split: ratings TSV → train/test (60/40, seeded), both sampled from
  *      one cached parse, so the TSV is parsed once per run
  *   1. linecount: per-rating counts, collected once → single text file
  *      (getmerge analog), written from the driver; the same collected
  *      rows size the filters
  *   2. builder: per-rating Bloom filters ([[BloomPipeline.buildSized]]
  *      over that geometry, so train is counted once), collected once (at
  *      most one row per rating) → persisted artifact, saved from those
  *      rows as one parquet file
  *   3. tester: the same rows as a broadcast [[graft.core.GroupFilters]]
  *      (the testers' own shape, `bloomfilters_tester.py:81`), probing the
  *      held-out split once with [[BloomPipeline.fpStatsCollected]] →
  *      per-rating FP table; the printed report and the results text,
  *      written from the driver, come from the same collected rows
  *
  * The filter set is small (one row per rating), so it is collected once
  * and both written and shipped from the same bytes, the broadcast-when-
  * small pattern (MapReduce Algorithms for Big Data Analysis, VLDB 2012);
  * the artifact is not read back. A run fires 9 Spark jobs: the cache fill,
  * linecount map and result, the geometry broadcast, build map and result,
  * the artifact write, probe map and result. The two texts are at most 10
  * lines each and take no job.
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
    val (tsvDir, p, outDir) = parsed.getOrElse(Config.usage(usage))
    val spark = Config.env.session()
    try run(spark, tsvDir, p, outDir).foreach(println)
    finally spark.stop()
  }

  /** One FP-table line, `rating\tfalsePositives\ttotal\tfpRate`, formatted
    * as Spark's `format_string` formats it (Locale.US). */
  private def statLine(r: Row): String =
    "%d\t%d\t%d\t%.8f".formatLocal(Locale.US,
      r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))

  /** Replaces `dir` with the text a one-partition Spark text write of
    * `lines` leaves: one `part-00000.txt` holding each line followed by
    * `\n`, then an empty `_SUCCESS`. Written from the driver through the
    * Hadoop `FileSystem` of `dir`, so it takes no Spark job. */
  private def writeText(spark: SparkSession, lines: Seq[String], dir: String): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(path, true)
    val out = fs.create(new Path(path, "part-00000.txt"))
    try lines.foreach(l => out.write((l + "\n").getBytes(StandardCharsets.UTF_8)))
    finally out.close()
    fs.create(new Path(path, "_SUCCESS")).close()
  }

  /** Returns the printed report lines (so tests can assert on them). */
  def run(spark: SparkSession, tsvDir: String, p: Double, outDir: String): Seq[String] = {
    // same check and message as BloomFilter.numHashes, before any job or
    // output is written
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")

    // job 0 — ingest + split (reference split-dataset.py; seeded for rerun
    // stability, disjointness by row identity). The parsed input is cached
    // so the TSV is parsed once: train and test are both sampled from the
    // one cache, and randomSplit draws per partition over the same rows as
    // an uncached parse would, so split membership is unchanged.
    val obs = new Observation(s"ingest_${System.identityHashCode(spark)}_${outDir.hashCode}")
    val ratings = Ingest.readRatingsTsvObserved(spark, tsvDir, obs)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // released however the stages end
    val stats = try {
      val Array(train, test) = Ratings.randomSplit(ratings, seed = 42L)

      // job 1 — linecount, collected once (at most one row per rating); the
      // job fills the ratings cache and fires the ingest metrics. Its rows,
      // in collected (the aggregate's partition) order, are the text merged
      // to one file (reference 1_launch + getmerge: "rating\tcount" lines)
      // and, as a local relation, the sizing input of the build.
      val linecount = BloomPipeline.linecount(train)
      val counts = linecount.collect().toSeq
      writeText(spark, counts.map(r =>
        "%d\t%d".formatLocal(Locale.US, r.getInt(0), r.getLong(1))), s"$outDir/linecount")

      // job 2 — build, no second count of train, collected once; the
      // artifact is saved from those rows as a one-partition local
      // relation, so it stays one parquet file sorted by rating
      val geometry = BloomPipeline.sized(spark.createDataFrame(counts.asJava, linecount.schema), p)
      val built = BloomPipeline.buildSized(train, geometry)
      val filterRows = built.collect().toSeq
      FilterStore.save(
        spark.createDataFrame(filterRows.asJava, built.schema).coalesce(1), s"$outDir/filters")

      // job 3 — broadcast the same rows, probe the held-out split once;
      // train/test disjoint, so every hit is a false positive (reference
      // §5.1 contract). At most one row per rating comes back, in the
      // aggregate's partition order.
      val filters = spark.sparkContext.broadcast(BloomPipeline.groupFilters(filterRows))
      try BloomPipeline.fpStatsCollected(test, filters).collect()
      finally filters.destroy()
    } finally ratings.unpersist()

    // the results text keeps the collected (partition) order, the order a
    // coalesced write of the aggregate produces; the report is by rating
    writeText(spark, stats.toSeq.map(statLine), s"$outDir/results")

    val header = Seq(
      f"ingested=${obs.get("total_rows")} corrupt_dropped=${obs.get("corrupt_rows")} p=$p%.4f",
      "rating\tfalsePositives\ttotal\tfpRate")
    header ++ stats.sortBy(_.getInt(0)).map(statLine)
  }
}
