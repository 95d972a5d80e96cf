package graft.lanes

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The lane registry: the families declare each lane once, and
  * [[SparkEntry]]'s name-keyed views are derived from them. */
class RegistrySpec extends AnyFunSuite {

  private def family(key: String, names: String*): LaneFamily =
    new LaneFamily(key) {
      val lanes = names.map(n => Lane(n, None)((_, _) => null: DataFrame))
    }

  test("the registries are built once") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
    assert(SparkEntry.fixtures eq SparkEntry.fixtures)
  }

  test("307 unique lane names, 288 of them with an oracle") {
    assert(SparkEntry.queries.size === 307)
    assert(SparkEntry.oracleSql.size === 288)
  }

  test("the lanes without an oracle are the 19 rows-only lanes") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet === Set(
      "a15_equidepth_hist", "bloom_filters", "bloom_fpstats",
      "bloom_sharded_fpstats", "t4_shingle_fp", "t23_bpe_merges",
      "t27_bpe_encode", "t31_lr_train", "t9_winnow", "dedup_simhash",
      "mm4_features", "sim_ann_lsh", "sim_ann_ivf", "sim_ann_sq8",
      "sim_ann_pq", "sim_ann_ivfpq", "sim_ann_ivfpq_res", "sim_mmr_rerank",
      "priv2_dp_counts"))
  }

  test("the streaming family declares only st* lanes") {
    assert(StreamingLanes.lanes.map(_.name).filterNot(_.startsWith("st")) === Nil)
  }

  test("each streaming twin shares its batch lane's oracle") {
    val twins = Seq(
      "st1_stream_hourly" -> "e1_event_hourly",
      "st14_stream_lm" -> "t21_unigram_lm",
      "st15_stream_dsir" -> "t25_dsir",
      "st17_stream_sliding" -> "e6_sliding",
      "st20_stream_markov" -> "e8_markov",
      "st21_stream_anomaly" -> "w7_zscore_anomaly",
      "st22_stream_attribution" -> "e9_attribution",
      "st25_stream_benford" -> "fe3_benford",
      "st26_stream_nb_serve" -> "t36_nb_classify",
      "st27_stream_psi" -> "fe5_psi_drift",
      "st29_stream_cusum" -> "w13_cusum")
    for ((stream, batch) <- twins)
      assert(SparkEntry.oracleSql(stream) === SparkEntry.oracleSql(batch),
        s"$stream vs $batch")
  }

  test("a name declared by two families fails, naming the lane and both " +
      "families") {
    val e = intercept[IllegalStateException](LaneFamily.registry(Seq(
      family("first", "a", "dup"), family("second", "dup", "b"))))
    assert(e.getMessage.contains("lane dup is declared 2 times"))
    assert(e.getMessage.contains("first, second"))
  }

  test("building the registry builds no oracle") {
    val lazyOracle = new LaneFamily("lazy") {
      val lanes = Seq(Lane("x", throw new AssertionError("oracle built"))(
        (_, _) => null: DataFrame))
    }
    val Seq(lane) = LaneFamily.registry(Seq(lazyOracle))
    assert(lane.name === "x")
    intercept[AssertionError](lane.oracle)
  }
}
