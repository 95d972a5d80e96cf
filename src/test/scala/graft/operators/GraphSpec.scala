package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Graph lane: known-answer checks on a hand-built event stream plus
  * structural invariants on the real testdata. The hand-built stream keeps
  * every event inside ONE hour bucket so the expected edge set is exactly
  * the consecutive-pair set. */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  /** events(ts nanos LONG, event_id, user_id) for a fixed user sequence —
    * schema-compatible with Tables' normalized contract. */
  private def eventsOf(users: Seq[Long]): DataFrame =
    users.zipWithIndex.map { case (u, i) =>
      (1000000000L * i, i.toLong, u, "c", 1.0, "{}")
    }.toDF("ts", "event_id", "user_id", "event_type", "value", "props")

  // sequence 1,2,3,1,2,4,1 → directed edges {1→2,2→3,3→1,1→2(dup),2→4,4→1}
  // → distinct {1→2,2→3,3→1,2→4,4→1}; undirected {12,23,13,24,14};
  // triangles on nodes {1,2,3,4}: {1,2,3} (12,23,13) and {1,2,4} (12,24,14)
  private val seq1 = Seq(1L, 2L, 3L, 1L, 2L, 4L, 1L)

  test("edges: consecutive distinct pairs, self-loops dropped") {
    val ed = Graph.edges(eventsOf(Seq(1L, 1L, 2L, 2L, 3L, 1L)))
      .as[(Long, Long)].collect().toSet
    assert(ed === Set((1L, 2L), (2L, 3L), (3L, 1L)))
  }

  test("edges: hour-bucket boundary transitions are dropped by contract") {
    val df = Seq(
      (0L, 0L, 1L, "c", 1.0, "{}"),
      (1L, 1L, 2L, "c", 1.0, "{}"), // same bucket: edge 1→2
      (3600000000000L, 2L, 3L, "c", 1.0, "{}") // next bucket: no 2→3 edge
    ).toDF("ts", "event_id", "user_id", "event_type", "value", "props")
    assert(Graph.edges(df).as[(Long, Long)].collect().toSet === Set((1L, 2L)))
  }

  test("triangles: known-answer on the two-triangle graph") {
    val row = Graph.triangles(eventsOf(seq1)).head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((4L, 5L, 2L)))
  }

  test("degrees: per-node profile matches the hand-derived edge set") {
    val deg = Graph.degrees(eventsOf(seq1))
      .as[(Long, Long, Long, Long)].collect().toMap2
    // directed {1→2,2→3,3→1,2→4,4→1}
    assert(deg(1L) === ((1L, 2L, 3L))) // out=1 (→2), in=2 (3→,4→), und=3
    assert(deg(2L) === ((2L, 1L, 3L)))
    assert(deg(3L) === ((1L, 1L, 2L)))
    assert(deg(4L) === ((1L, 1L, 2L)))
  }

  private implicit class Tup4Ops(rows: Array[(Long, Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long, Long)] =
      rows.map { case (n, o, i, u) => n -> ((o, i, u)) }.toMap
  }

  test("pagerank: ranks are a probability distribution and loop converges") {
    val df = Graph.pagerank(eventsOf(seq1), iters = 3)
    val ranks = df.as[(Long, Double)].collect().toMap
    assert(ranks.size === 4)
    assert(ranks.values.forall(_ > 0))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6)
    // node 1 has two in-edges from nodes that each split mass — it must
    // outrank the single-in-edge tail nodes 3 and 4
    assert(ranks(1L) > ranks(3L) && ranks(1L) > ranks(4L))
  }

  test("pagerank: dangling mass is redistributed (sum stays 1 with a sink)") {
    // 1→2, 2 is a sink (sequence 1,2 then bucket ends)
    val df = Graph.pagerank(eventsOf(Seq(1L, 2L)), iters = 2)
    val ranks = df.as[(Long, Double)].collect().toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6)
    assert(ranks(2L) > ranks(1L)) // sink receives, source only leaks
  }

  test("clustering coefficient: known-answer on the two-triangle graph") {
    // und {12,23,13,24,14}: tri(1)=2 deg=3, tri(2)=2 deg=3, tri(3)=1 deg=2,
    // tri(4)=1 deg=2 → coeff 1: 2*2/(3*2)=0.666667, 3: 2*1/(2*1)=1.0
    val cc = Graph.clusteringCoefficient(eventsOf(seq1))
      .as[(Long, Long, Long, Double)].collect()
      .map { case (n, d, t, c) => n -> ((d, t, c)) }.toMap
    assert(cc(1L) === ((3L, 2L, 0.666667)))
    assert(cc(2L) === ((3L, 2L, 0.666667)))
    assert(cc(3L) === ((2L, 1L, 1.0)))
    assert(cc(4L) === ((2L, 1L, 1.0)))
  }

  test("neighbor jaccard: known-answer on the two-triangle graph") {
    // N(1)={2,3,4} N(2)={1,3,4} N(3)={1,2} N(4)={1,2}
    // edge(1,2): common {3,4}=2, union 3+3-2=4 → 0.5
    // edge(1,3): common {2}=1, union 3+2-1=4 → 0.25 ; same for (1,4)
    // edge(2,3): common {1}=1 → 0.25 ; same for (2,4)
    val j = Graph.neighborJaccard(eventsOf(seq1))
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map { case (a, b, da, db, cm, jc) => (a, b) -> ((da, db, cm, jc)) }
      .toMap
    assert(j((1L, 2L)) === ((3L, 3L, 2L, 0.5)))
    assert(j((1L, 3L)) === ((3L, 2L, 1L, 0.25)))
    assert(j((1L, 4L)) === ((3L, 2L, 1L, 0.25)))
    assert(j((2L, 3L)) === ((3L, 2L, 1L, 0.25)))
    assert(j((2L, 4L)) === ((3L, 2L, 1L, 0.25)))
    assert(j.size === 5)
  }

  test("neighbor jaccard: edge with zero common neighbors keeps the row") {
    // path 1-2-3: edge(1,2) common=∅ (N(1)={2}, N(2)={1,3}), j=0
    val j = Graph.neighborJaccard(eventsOf(Seq(1L, 2L, 3L)))
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map { case (a, b, _, _, cm, jc) => (a, b) -> ((cm, jc)) }.toMap
    assert(j((1L, 2L)) === ((0L, 0.0)))
    assert(j((2L, 3L)) === ((0L, 0.0)))
  }

  test("degree/triangle invariants on sf0.001 testdata") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
    val ed = Graph.edges(ev).cache()
    val deg = Graph.degrees(ev).cache()
    val nEdges = ed.count()
    // Σ out_deg = Σ in_deg = |directed edges|
    val sums = deg.agg(sum("out_deg"), sum("in_deg")).head
    assert(sums.getLong(0) === nEdges && sums.getLong(1) === nEdges)
    // census columns agree with independent recounts
    val row = Graph.triangles(ev).head
    assert(row.getLong(0) === deg.count())
    assert(row.getLong(1) ===
      Graph.undirected(ev).count())
    assert(row.getLong(2) > 0) // 15 users over 1000 events: dense, must close
    ed.unpersist(); deg.unpersist()
  }

  test("bfsHops: exact hop counts on a chain, cap excludes the far node") {
    // sequence 1,2,3,4 → chain edges {12,23,34}; seed node 1
    val chain = eventsOf(Seq(1L, 2L, 3L, 4L))
    val d3 = Graph.bfsHops(chain, col("node") === 1, hops = 3)
      .as[(Long, Int)].collect().toMap
    assert(d3 === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    val d2 = Graph.bfsHops(chain, col("node") === 1, hops = 2)
      .as[(Long, Int)].collect().toMap
    assert(d2 === Map(1L -> 0, 2L -> 1, 3L -> 2)) // node 4 out of reach
  }

  test("linkPrediction: known-answer Adamic-Adar on the two-triangle " +
      "graph; existing edges excluded") {
    // seq1 und edges {12,23,13,24,14}: the ONLY distance-2 non-edge is
    // (3,4) with common neighbors {1,2}, both degree 3 →
    // aa = 2/ln(3) ≈ 1.820478
    val r = Graph.linkPrediction(eventsOf(seq1))
      .as[(Int, Long, Long, Long, Double)].collect()
    assert(r.length === 1)
    assert(r.head === ((1, 3L, 4L, 2L,
      BigDecimal(2.0 / math.log(3.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("linkPrediction: chain non-edges score by their bridge's degree") {
    // chain 1-2-3-4: candidates (1,3) via 2 and (2,4) via 3, both deg 2
    // → equal aa = 1/ln(2); tie breaks by x
    val r = Graph.linkPrediction(eventsOf(Seq(1L, 2L, 3L, 4L)))
      .as[(Int, Long, Long, Long, Double)].collect()
    assert(r.map(t => (t._1, t._2, t._3, t._4)).toSeq ===
      Seq((1, 1L, 3L, 1L), (2, 2L, 4L, 1L)))
    assert(r.forall(t => math.abs(t._5 - 1.0 / math.log(2.0)) < 1e-5))
  }

  test("bfsHops: min-dist wins when a node is reachable two ways") {
    // seq1 graph: und edges {12,23,13,24,14}; seed 3 → 1,2 at 1; 4 at 2
    // via 1 or 2 (two equal-length paths, one distance)
    val d = Graph.bfsHops(eventsOf(seq1), col("node") === 3, hops = 3)
      .as[(Long, Int)].collect().toMap
    assert(d === Map(3L -> 0, 1L -> 1, 2L -> 1, 4L -> 2))
  }

  /** events spanning several hour buckets so edges only form WITHIN each
    * user sequence (the bucket boundary cuts cross-sequence pairs). */
  private def eventsOfBuckets(buckets: Seq[Long]*): DataFrame =
    buckets.zipWithIndex.flatMap { case (users, b) =>
      users.zipWithIndex.map { case (u, i) =>
        (3600000000000L * b + 1000000000L * i, (b * 100 + i).toLong, u,
          "c", 1.0, "{}")
      }
    }.toDF("ts", "event_id", "user_id", "event_type", "value", "props")

  test("personalizedPagerank: hand-computed on a chain with a dangling " +
    "sink returning mass to the seed") {
    // chain 1→2→3, seed {1}; 3 iterations of the documented recurrence:
    // (0.15, 0.85, 0) → (0.15, 0.1275, 0.7225)
    //   → (0.15 + 0.85·0.7225, 0.1275, 0.108375)
    val r = Graph.personalizedPagerank(
      eventsOf(Seq(1L, 2L, 3L)), col("node") === 1)
      .as[(Long, Double)].collect().toMap
    assert(r === Map(1L -> 0.764125, 2L -> 0.1275, 3L -> 0.108375))
    assert(math.abs(r.values.sum - 1.0) < 1e-9) // walk mass is conserved
  }

  test("personalizedPagerank: a component with no seed stays at exactly 0") {
    // two components (1→2 | 3→4), seed {1}: 3 and 4 get no teleport and
    // no inbound walk — identically zero, not merely small
    val r = Graph.personalizedPagerank(
      eventsOfBuckets(Seq(1L, 2L), Seq(3L, 4L)), col("node") === 1)
      .as[(Long, Double)].collect().toMap
    assert(r(3L) === 0.0 && r(4L) === 0.0)
    // the seeded component carries ALL the walk mass
    assert(r(1L) > 0.0 && r(2L) > 0.0)
    assert(math.abs(r(1L) + r(2L) - 1.0) < 1e-9)
  }

  /** The pagerank recurrence as a plain-Scala power iteration: teleport
    * and dangling mass go to `teleport` (every node for [[Graph.pagerank]]),
    * the mass of round `i` spread in round `i + 1`. */
  private def powerIteration(edges: Set[(Long, Long)], teleport: Long => Boolean,
      iters: Int, d: Double = 0.85): Map[Long, Double] = {
    val nodes = edges.flatMap { case (s, t) => Seq(s, t) }.toSeq.sorted
    val out = edges.toSeq.groupMapReduce(_._1)(_ => 1)(_ + _)
    val k = nodes.count(teleport).toDouble
    def share(v: Long, x: Double) = if (teleport(v)) x / k else 0.0
    var r = nodes.map(v => v -> share(v, 1.0)).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(out.contains).map(r).sum
      val contrib = edges.toSeq.groupMapReduce(_._2)(e => r(e._1) / out(e._1))(_ + _)
      r = nodes.map(v => v ->
        (share(v, 1.0 - d) + d * (contrib.getOrElse(v, 0.0) + share(v, dang)))).toMap
    }
    r
  }

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("pagerank/ppr: equal to a plain power iteration, with a dangling " +
      "node and a node without in-edges") {
    // 5→1, 1→2, 2→3, 3→1, 2→4: node 4 has no out-edge, node 5 no in-edge
    val ev = eventsOf(Seq(5L, 1L, 2L, 3L, 1L, 2L, 4L))
    val ed = Set((5L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L))
    assert(Graph.edges(ev).as[(Long, Long)].collect().toSet === ed)
    for (iters <- Seq(1, 4)) {
      val pr = Graph.pagerank(ev, iters).as[(Long, Double)].collect().toMap
      val prExp = powerIteration(ed, _ => true, iters)
      assert(pr.keySet === prExp.keySet)
      prExp.foreach { case (v, x) =>
        assert(math.abs(pr(v) - round9(x)) < 1e-12, s"pagerank($v), $iters rounds")
      }
      // seeds {4, 5}: one dangling seed, one without in-edges
      val ppr = Graph.personalizedPagerank(ev, col("node") >= 4L, iters)
        .as[(Long, Double)].collect().toMap
      val pprExp = powerIteration(ed, _ >= 4L, iters)
      pprExp.foreach { case (v, x) =>
        assert(math.abs(ppr(v) - round9(x)) < 1e-12, s"ppr($v), $iters rounds")
      }
    }
    spark.catalog.clearCache()
  }

  test("pagerank/ppr fire at most 30 jobs") {
    // 150 users over 10 hour buckets, each bucket ending in its own sink;
    // 3 rounds: the (node, deg) prep job, one materializing job plus the
    // body's exchanges per round, the ordered collect
    val rnd = new scala.util.Random(5)
    val ev = eventsOfBuckets((0 until 10).map { b =>
      Seq.fill(300)(rnd.nextInt(150).toLong) :+ (1000L + b)
    }: _*)
    val (_, prJobs) = jobsOf(Graph.pagerank(ev).collect())
    assert(prJobs <= 30, "pagerank jobs")
    spark.catalog.clearCache()
    val (_, pprJobs) = jobsOf(
      Graph.personalizedPagerank(ev, col("node") % 50 === 0).collect())
    assert(pprJobs <= 30, "personalized pagerank jobs")
    spark.catalog.clearCache()
  }

  test("labelPropagation: components collapse to their min node id") {
    // components {1,2,3} (diameter 2) and {4,5}: 4 rounds ≥ both diameters
    val r = Graph.labelPropagation(
      eventsOfBuckets(Seq(1L, 2L, 3L), Seq(4L, 5L)))
      .as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("kCore: pendant peels, the triangle survives with in-core degrees") {
    // triangle 1-2-3 + pendant edge 1-4: k=2 drops 4 in round 1 and the
    // triangle is stable — node 1's reported degree is its IN-CORE 2,
    // not its original 3
    val r = Graph.kCore(eventsOfBuckets(
      Seq(1L, 2L, 3L, 1L), Seq(1L, 4L)), k = 2)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(r === Seq((1L, 2L, true), (2L, 2L, true), (3L, 2L, true)))
  }

  test("kCore: a chain cascades to an empty 2-core, converged") {
    // chain 1-2-3-4: round 1 drops the endpoints, round 2 the middle
    val r = Graph.kCore(eventsOf(Seq(1L, 2L, 3L, 4L)), k = 2)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(r.isEmpty)
  }

  test("kCore: too few rounds reports converged = false") {
    // chain 1..6 at k=2 peels one layer per round; rounds=1 cannot have
    // stabilized (round 1 dropped the endpoints, counts still moving)
    val r = Graph.kCore(eventsOf(Seq(1L, 2L, 3L, 4L, 5L, 6L)),
      k = 2, rounds = 1)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(r.nonEmpty && r.forall(!_._3))
  }

  test("assortativity: star is perfectly disassortative; regular graph " +
    "is undefined (null, not NaN)") {
    // star 1-{2,3,4}: endpoint degree pairs are (3,1)³ and (1,3)³ -> -1
    val star = Graph.assortativity(
      eventsOfBuckets(Seq(1L, 2L), Seq(1L, 3L), Seq(1L, 4L))).head()
    assert((star.getLong(0), star.getLong(1), star.getDouble(2)) ===
      ((4L, 3L, -1.0)))
    // triangle: every degree 2 -> zero variance -> null (oracle parity)
    val tri = Graph.assortativity(
      eventsOf(Seq(1L, 2L, 3L, 1L))).head()
    assert(tri.isNullAt(2))
  }

  test("labelPropagation: bounded rounds reach exactly `iters` hops") {
    // chain 1-2-3-4-5-6 at iters=2: label(v) = min id within 2 hops
    val r = Graph.labelPropagation(
      eventsOf(Seq(1L, 2L, 3L, 4L, 5L, 6L)), iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L,
      6L -> 4L))
  }

  test("modularity: hand-computed per-round trajectory on the 6-chain") {
    // chain 1-2-3-4-5-6: m = 5, degrees (1,2,2,2,2,1); round-r labels are
    // min-id-within-r-hops = max(1, v - r). Per round, hand-derived:
    //   r1 labels [1,1,2,3,4,5]: IT=1 (edge 1-2), S2=3²+2²+2²+2²+1²=22,
    //      Q = 1/5 - 22/100 = -0.02
    //   r2 [1,1,1,2,3,4]: IT=2, S2=25+4+4+1=34, Q = 0.4-0.34 = 0.06
    //   r3 [1,1,1,1,2,3]: IT=3, S2=49+4+1=54, Q = 0.6-0.54 = 0.06
    //   r4 [1,1,1,1,1,2]: IT=4, S2=81+1=82, Q = 0.8-0.82 = -0.02
    // — the Q curve peaks mid-run and degrades as the flood over-merges,
    // which is exactly the decision the lane exists to surface.
    val r = Graph.modularity(eventsOf(Seq(1L, 2L, 3L, 4L, 5L, 6L)))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(r === Seq(
      (1L, 5L, 1L, 22L, -0.02),
      (2L, 4L, 2L, 34L, 0.06),
      (3L, 3L, 3L, 54L, 0.06),
      (4L, 2L, 4L, 82L, -0.02)))
  }

  test("modularity: the one-community fixed point scores exactly 0") {
    // triangle 1-2-3 floods to one label by round 1; IT = m and
    // S2 = (2m)² make Q identically 0 from then on
    val r = Graph.modularity(eventsOf(Seq(1L, 2L, 3L, 1L)), iters = 2)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(r.map(x => (x._1, x._2, x._5)) ===
      Seq((1L, 1L, 0.0), (2L, 1L, 0.0)))
  }

  test("modularity: empty edge relation returns the empty trajectory, " +
      "not NaN rows; iters < 1 is rejected (ADVICE r14)") {
    // a single event makes no chained edge -> und is empty; every Q term
    // would divide by m = 0
    val empty = Graph.modularity(eventsOf(Seq(1L)))
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq === Seq("round", "n_communities",
      "intra_edges", "deg_sq_sum", "modularity"))
    intercept[IllegalArgumentException] {
      Graph.modularity(eventsOf(Seq(1L, 2L)), iters = 0)
    }
    spark.catalog.clearCache()
  }

  test("reciprocity: hand-counted mutual edges over the chain fixtures") {
    // seq 1,2,3,1,2,4,1 → edges {1→2,2→3,3→1,2→4,4→1}: no reversals → 0
    val r0 = Graph.reciprocity(eventsOf(seq1))
      .as[(Long, Long, Double)].collect().head
    assert(r0 === ((5L, 0L, 0.0)))
    // seq 1,2,1,3 → edges {1→2, 2→1, 1→3}: the 1↔2 pair is mutual → 2/3
    val r1 = Graph.reciprocity(eventsOf(Seq(1L, 2L, 1L, 3L)))
      .as[(Long, Long, Double)].collect().head
    assert(r1 === ((3L, 2L, 0.666667)))
    spark.catalog.clearCache()
  }

  test("connectedComponents: separate hour buckets form separate " +
      "components, each labeled by its minimum id") {
    // hour 0: chain 5-7-6 → component 5; hour 1: chain 11-10 →
    // component 10; hour 2: chain 22-20-21-23 → component 20
    val hour = 3600000000000L
    val ev = Seq(
      (0L, 0L, 5L), (1L, 1L, 7L), (2L, 2L, 6L),
      (hour, 3L, 11L), (hour + 1, 4L, 10L),
      (2 * hour, 5L, 22L), (2 * hour + 1, 6L, 20L),
      (2 * hour + 2, 7L, 21L), (2 * hour + 3, 8L, 23L))
      .map { case (ts, id, u) => (ts, id, u, "c", 1.0, "{}") }
      .toDF("ts", "event_id", "user_id", "event_type", "value", "props")
    val r = Graph.connectedComponents(ev).select("node", "component")
      .as[(Long, Long)].collect().toMap
    assert(r === Map(5L -> 5L, 6L -> 5L, 7L -> 5L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    spark.catalog.clearCache()
  }

  test("connectedComponents: an input with no undirected edges stops " +
      "after round 1") {
    // self-loops only: no edges, so the initial labels are the fixed
    // point. 9 jobs: the initial labels' materializing write (which also
    // observes their count and label sum) and one round. Without the
    // label-sum seed a second, identical round runs (11); the loop that
    // counted the initial labels with `count()` and had no seed ran 12
    val (r, jobs) = jobsOf(
      Graph.connectedComponents(eventsOf(Seq(7L, 7L, 7L))).collect())
    assert(r.isEmpty)
    assert(jobs <= 9, s"$jobs jobs: a converged input ran a second round")
    spark.catalog.clearCache()
  }

  test("connectedComponents: a 33-node path (diameter 32) converges to " +
      "one component — the pointer jump beats plain propagation's " +
      "round count") {
    // descending ids make min-propagation work against the chain
    // direction: the worst case for a plain neighbor fold
    val r = Graph.connectedComponents(eventsOf((1L to 33L).reverse))
      .as[(Long, Long, Boolean)].collect()
    assert(r.length === 33)
    assert(r.forall(_._2 === 1L),
      s"all nodes must reach component 1: ${r.filter(_._2 != 1L).toSeq}")
    assert(r.forall(_._3), "fixpoint loop must emit converged = true")
    spark.catalog.clearCache()
  }

  test("connectedComponents: full closure strictly refines gr9's " +
      "bounded-round labels on a long chain") {
    // at iters=4 labelPropagation leaves far nodes unmerged; the
    // convergent pass must finish the job
    val ev = eventsOf((1L to 12L).reverse)
    val lp = Graph.labelPropagation(ev, iters = 2)
      .as[(Long, Long)].collect().toMap
    val cc = Graph.connectedComponents(ev).select("node", "component")
      .as[(Long, Long)].collect().toMap
    assert(lp.values.toSet.size > 1, "bounded rounds must NOT close a 12-chain at iters=2")
    assert(cc.values.toSet === Set(1L))
    spark.catalog.clearCache()
  }

  test("hits: hand-computed hubs/authorities on a 3-chain") {
    // edges 1→2, 2→3. Fixed point from iteration 1 on:
    // hubs (1, 2) = ½ each (3 points at nothing); authorities (2, 3) = ½.
    val r = Graph.hits(eventsOf(Seq(1L, 2L, 3L)), iters = 3)
      .as[(Long, Double, Double)].collect().toSeq
    assert(r === Seq(
      (1L, 0.5, 0.0),
      (2L, 0.5, 0.5),
      (3L, 0.0, 0.5)))
  }

  test("hits: hot-hub BIGINT headroom guard auto-flips to the float path " +
    "(r10 verdict #2)") {
    // Star graph, k = 100k: 0 → {1..k} and {1..k} → 0, deg_max = k.
    // Un-normalized integer magnitudes grow as k^round, so at iters = 4
    // the a-step would need k·k³ = 1e20 > Long.MaxValue — under ANSI mode
    // the pure-integer loop would THROW mid-round; producing a result at
    // all proves the headroom guard flipped (the conservative bound
    // max(h)·deg_max² > Long.MaxValue fires before round 3).
    // Closed-form fixed point (reached from round 1 on, so the flip's
    // normalized-double rounds must reproduce it to 9dp):
    //   hub(v)        = 1/(1+k)   for every node (uniform)
    //   authority(0)  = 1/2
    //   authority(v≠0)= 1/(2k)
    val k = 100000L
    val leaves = spark.range(1, k + 1).toDF("id")
    val star = leaves.select(lit(0L).as("src"), col("id").as("dst"))
      .union(leaves.select(col("id").as("src"), lit(0L).as("dst")))
    val r = Graph.hitsOnEdges(star, iters = 4)
      .as[(Long, Double, Double)].collect()
    assert(r.length === k + 1)
    val hubExp = BigDecimal(1.0 / (1 + k))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val authLeafExp = BigDecimal(1.0 / (2 * k))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    r.foreach { case (node, hub, auth) =>
      assert(hub === hubExp, s"hub($node)")
      if (node == 0L) assert(auth === 0.5, "authority(0)")
      else assert(auth === authLeafExp, s"authority($node)")
    }
    spark.catalog.clearCache()
  }

  test("cache lifecycle: no resident cache growth across the graph lane " +
      "(r9 verdict ask #6)") {
    // The harness clears the cache between queries, but the operators
    // must not DEPEND on it: prep relations (edge-sized) are released
    // before return; at most the operator's own RESULT cache (node-sized
    // or smaller) may remain. Asserted over a full pass of every
    // iterative/persisting graph operator.
    // resident DataFrame caches materialize as persistent RDDs; measure
    // deltas against a post-clearCache baseline so leftovers from other
    // suites sharing the session can't skew the count
    def resident: Int = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    val base = resident
    val ev = eventsOf(Seq(1L, 2L, 3L, 1L, 2L, 4L, 1L, 5L, 2L))
    // fully finalized operator: bounded local result, NOTHING resident
    Graph.linkPrediction(ev, topK = 5).collect()
    assert(resident === base, "linkPrediction left resident caches")
    Graph.modularity(ev, iters = 2).collect()
    assert(resident === base, "modularity left resident caches")
    // result-cache operators: at most ONE resident entry after
    // consumption — the operator's own materialized result (node-sized),
    // never the edge-sized preps; clearCache returns to baseline.
    val ops: Seq[(String, () => Unit)] = Seq(
      "pagerank" -> (() => Graph.pagerank(ev, iters = 2).collect()),
      "personalizedPagerank" -> (() =>
        Graph.personalizedPagerank(ev, col("node") === 1L, iters = 2)
          .collect()),
      "labelPropagation" -> (() =>
        Graph.labelPropagation(ev, iters = 2).collect()),
      "kCore" -> (() => Graph.kCore(ev, k = 2, rounds = 2).collect()),
      "hits" -> (() => Graph.hits(ev, iters = 2).collect()),
      "connectedComponents" -> (() =>
        Graph.connectedComponents(ev).collect()),
      "bfsHops" -> (() =>
        Graph.bfsHops(ev, col("node") === 1L, hops = 2).collect()))
    ops.foreach { case (name, run) =>
      run()
      assert(resident <= base + 1,
        s"$name left ${resident - base} resident caches (max 1: its result)")
      spark.catalog.clearCache()
      assert(resident === base, s"$name residue survived clearCache")
    }
  }
}
