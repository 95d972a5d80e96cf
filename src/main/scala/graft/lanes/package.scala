package graft

import graft.operators.Ratings

/** The registered queries, one file per family ([[lanes.LaneFamily]]); each
  * lane declares its name, its oracle and its body once ([[lanes.Lane]]).
  * [[graft.SparkEntry]] derives the name-keyed views from them. */
package object lanes {
  /** The ratings relations as DuckDB SQL, the inputs many oracles read. */
  private[lanes] def li: String = Ratings.fromLineitemSql
  private[lanes] def ev: String = Ratings.fromEventsSql
  private[lanes] def train: String = Ratings.splitSql("<")
  private[lanes] def test: String = Ratings.splitSql(">=")
}
