package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the bench protocol's pure pieces: the cross-draw
  * median estimator and the outlier guard that keeps a noise-dominated
  * total from landing in `BENCH_DETAIL.json` by accident (r7 verdict
  * asks #1 and #6 — the committed r7 number was the worst of six draws).
  */
class BenchProtocolSpec extends AnyFunSuite {

  test("median: odd count picks the middle draw") {
    assert(Bench.median(Seq(21.3, 2.4, 3.9)) === 3.9)
  }

  test("median: even count averages the two middles") {
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
  }

  test("median: single draw is itself; empty is 0") {
    assert(Bench.median(Seq(7.5)) === 7.5)
    assert(Bench.median(Nil) === 0.0)
  }

  test("outlier guard: official within 25% of best draw publishes normally") {
    assert(Bench.detailPath(180.0, Seq(155.6, 181.0, 207.7), force = false)
      === "BENCH_DETAIL.json")
  }

  test("outlier guard: the r7 failure mode (worst-of-six as official) diverts") {
    // 257.15 official vs 155.6 best draw = 65% over — exactly the case
    // the guard exists for
    assert(Bench.detailPath(257.15, Seq(155.6, 181.0, 207.7), force = false)
      === "BENCH_DETAIL_OUTLIER.json")
  }

  test("outlier guard: --force publishes the outlier deliberately") {
    assert(Bench.detailPath(257.15, Seq(155.6), force = true)
      === "BENCH_DETAIL.json")
  }

  test("outlier guard: boundary sits at exactly +25%") {
    assert(Bench.detailPath(125.0, Seq(100.0), force = false)
      === "BENCH_DETAIL.json")
    assert(Bench.detailPath(125.1, Seq(100.0), force = false)
      === "BENCH_DETAIL_OUTLIER.json")
  }
}
