package graft.lanes

import org.apache.spark.sql.functions._

import graft.operators.{Graph, GraphSql, Tables}

/** Graph analytics over the event-derived interaction graph. */
object GraphLanes extends LaneFamily("graph") {
  val lanes: Seq[Lane] = Seq(
    // ---- graph analytics over the event-derived interaction graph ----
    // (edge contract + scale posture documented on graft.operators.Graph)
    Lane("gr1_degrees", Some(GraphSql.degrees))((s, dir) =>
      Graph.degrees(Tables(s, dir, "events"))),
    Lane("gr2_triangles", Some(GraphSql.triangles))((s, dir) =>
      Graph.triangles(Tables(s, dir, "events"))),
    Lane("gr3_pagerank", Some(GraphSql.pagerank()))((s, dir) =>
      Graph.pagerank(Tables(s, dir, "events"))),
    Lane("gr4_neighbor_jaccard", Some(GraphSql.neighborJaccard))((s, dir) =>
      Graph.neighborJaccard(Tables(s, dir, "events"))),
    Lane("gr5_cluster_coeff", Some(GraphSql.clusteringCoefficient))((s, dir) =>
      Graph.clusteringCoefficient(Tables(s, dir, "events"))),
    Lane("gr6_bfs_hops", Some(GraphSql.bfsHops("node % 50 = 0")))((s, dir) =>
      // frontier-relational multi-source BFS
      Graph.bfsHops(Tables(s, dir, "events"), col("node") % 50 === 0)),
    Lane("gr7_link_pred", Some(GraphSql.linkPrediction()))((s, dir) =>
      // Adamic-Adar scores for distance-2
      // non-edges; rounded-before-ranked so ordering is cross-engine safe
      Graph.linkPrediction(Tables(s, dir, "events"))),
    Lane("gr8_ppr", Some(GraphSql.personalizedPagerank("node % 50 = 0")))((s, dir) =>
      // random-walk-with-restart seed proximity
      Graph.personalizedPagerank(Tables(s, dir, "events"),
        col("node") % 50 === 0)),
    Lane("gr9_communities", Some(GraphSql.labelPropagation()))((s, dir) =>
      // bounded-round min-label propagation
      Graph.labelPropagation(Tables(s, dir, "events"))),
    Lane("gr10_kcore", Some(GraphSql.kCore()))((s, dir) =>
      // bounded-round k-core peel + converged flag
      Graph.kCore(Tables(s, dir, "events"))),
    Lane("gr11_assortativity", Some(GraphSql.assortativity))((s, dir) =>
      // Newman degree correlation
      Graph.assortativity(Tables(s, dir, "events"))),
    Lane("gr12_hits", Some(GraphSql.hits()))((s, dir) =>
      // Kleinberg hubs/authorities, L1-normalized
      Graph.hits(Tables(s, dir, "events"))),
    Lane("gr13_wcc", Some(GraphSql.connectedComponents()))((s, dir) =>
      // weakly connected components, run to
      // convergence via pointer jumping (O(log diameter) rounds)
      Graph.connectedComponents(Tables(s, dir, "events"))),
    Lane("gr14_reciprocity", Some(GraphSql.reciprocity))((s, dir) =>
      // fraction of edges whose reverse
      // exists: one semi-join of the edge set against its reversal
      Graph.reciprocity(Tables(s, dir, "events"))),
    Lane("gr15_modularity", Some(GraphSql.modularity()))((s, dir) =>
      // Newman-Girvan quality of the gr9
      // assignment, decomposed per community so every additive term is
      // hash-checked (Q = sum(contrib))
      Graph.modularity(Tables(s, dir, "events")))
  )
}
