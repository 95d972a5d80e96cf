package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lanes._
import graft.operators.{BloomPipeline, Ratings}

/** Driver contract (see the build brief + SURVEY.md §7).
  *
  * Query names carry the SURVEY.md §2 operator ids they demonstrate
  * (p1 = parse-project, a1 = count-per-key, j1 = broadcast join, ...).
  * Each lane is declared once, in its family's file under `graft.lanes`;
  * this object derives the name-keyed views the mains and specs read.
  * Every SQL-expressible query has a DuckDB oracle in [[oracleSql]]; the
  * hash/bit-valued bloom queries are covered by the cross-engine
  * *invariant* oracle (`bloom_zero_fn` must be exactly 0 in any engine)
  * plus ScalaTest/golden specs.
  */
object SparkEntry {

  /** Default false-positive probability (the reference scripts' p=0.2 is
    * the CLI default; its experiments use 0.01/0.05/0.1 — we standardize
    * on 0.05 for the flagship). */
  val defaultP = 0.05

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Full reference pipeline in one plan: parse -> split -> sizing agg ->
    * per-group bloom build -> broadcast probe join -> FP stats. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    BloomPipeline.endToEnd(
      Ratings.trainFromLineitem(spark, dir),
      Ratings.testFromLineitem(spark, dir),
      defaultP
    ).orderBy("rating")
  }

  /** Every lane, family by family; fails naming a lane declared twice. */
  private lazy val lanes: Seq[Lane] = LaneFamily.registry(Seq(
    ScanAggLanes, RelationalLanes, EventLanes, WindowLanes, BloomLanes,
    TextLanes, DedupLanes, MediaLanes, SimilarityLanes, StreamingLanes,
    GraphLanes, PrivacyLanes, FeatureLanes))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(lanes.map(l => l.name -> l.run): _*)

  lazy val oracleSql: Map[String, String] =
    ListMap(lanes.flatMap(l => l.oracle.map(l.name -> _)): _*)

  /** The fixtures by name: Bench builds each in its untimed setup pass. */
  lazy val fixtures: Map[String, (SparkSession, String) => String] =
    ListMap(Fixtures.all.map(f => f.name -> f): _*)
}
