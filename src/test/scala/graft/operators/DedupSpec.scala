package graft.operators

import graft.SparkSuite

/** [[Dedup]]'s cluster loop on its edge cases. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  test("nearDupClusters: a corpus with no near-dup pairs stops after round 1") {
    // three unrelated documents: no candidate pair, so the empty initial
    // labels are the fixed point: 17 jobs. Without the zero label-sum seed
    // a second, identical round runs (19)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red green blue cyan magenta yellow")).toDF("doc_id", "text")
    val (r, jobs) = jobsOf(Dedup.nearDupClusters(docs).collect())
    assert(r.isEmpty)
    assert(jobs <= 17, s"$jobs jobs: a pair-free corpus ran a second round")
    spark.catalog.clearCache()
  }
}
