package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}
import graft.lanes.Fixtures

/** Storage-side pruning gates: the sorted small-row-group layout must let
  * parquet skip row groups on a range predicate (footer min/max), and the
  * parquet BLOOM filter on the scrambled layout must skip row groups on an
  * absent equality probe that min/max cannot exclude.
  *
  * Observable because Spark leaves record-level parquet filtering off by
  * default: the scan's numOutputRows counts rows of SURVIVING row groups,
  * so group skipping shows up as a rows-read drop, not just faster I/O.
  */
class ParquetPruningSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.01"

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val executed = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = executed.collectLeaves().collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, s"no file scan in:\n$executed")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  private lazy val sorted = Fixtures.docsRgSorted(spark, dir)
  private lazy val scrambled = Fixtures.docsRgScrambled(spark, dir)
  private lazy val total = spark.read.parquet(s"$dir/documents.parquet").count()

  test("range predicate: sorted layout reads a fraction of the scrambled one") {
    val pred = col("doc_id") < 50
    val sortedRows = scanRows(spark.read.parquet(sorted).where(pred))
    val scrambledRows = scanRows(spark.read.parquet(scrambled).where(pred))
    // scrambled: every 16 KB row group spans the id range -> nothing skips
    assert(scrambledRows === total,
      s"scrambled layout unexpectedly pruned ($scrambledRows of $total)")
    // sorted: only the leading group(s) survive the footer check
    assert(sortedRows < total / 2,
      s"sorted layout did not prune row groups ($sortedRows of $total)")
    assert(sortedRows >= 50, "pruning must never drop matching rows")
  }

  test("parquet bloom: absent equality probe skips every scrambled row group") {
    // 'src4x' sorts inside [src0, src9], so min/max stats CANNOT exclude
    // it — with plain-encoded pages (no dictionary to consult; the
    // high-cardinality regime) only the column's bloom proves absence
    val pred = col("source") === "src4x"
    val bloomRows = scanRows(spark.read.parquet(scrambled).where(pred))
    assert(bloomRows === 0L,
      s"bloom-filtered scan decoded $bloomRows rows for an absent key")
    // the bloom-less sorted layout must decode everything to find nothing
    val plainRows = scanRows(spark.read.parquet(sorted).where(pred))
    assert(plainRows === total,
      s"expected no pruning without a bloom filter, got $plainRows of $total")
  }

  test("k6 query returns exactly the pruned range") {
    val rows = SparkEntry.queries("k6_rowgroup_pruning")(spark, dir).collect()
    assert(rows.length === 50)
    assert(rows.map(_.getLong(0)).toSeq === (0L until 50L))
  }
}
