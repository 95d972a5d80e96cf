package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to `private[sql]` surface: Column <-> catalyst Expression
  * and the InternalRow-preserving re-base. Lives under org.apache.spark.sql
  * so the accessors resolve; everything else in this engine stays in the
  * graft namespace.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-base `df` on its own execution RDD — the analysis barrier the
    * iterative/rank lanes pin rounds with — WITHOUT the
    * InternalRow → external Row → InternalRow double conversion that
    * `createDataFrame(df.rdd, df.schema)` pays (per row, per round: a
    * GenericRow allocation, one box per field, and an encoder pass back —
    * pure overhead the guide's "per-task work" step removes; the data and
    * row order are untouched). The `.copy()` matches `Dataset.checkpoint`:
    * operators reuse `UnsafeRow` buffers, so rows must be materialized
    * before they outlive the producing iterator (persist/cogroup buffers).
    * Determinism contract is identical to the external-row form: the
    * returned frame is a leaf over ONE concrete RDD lineage, so plan
    * re-execution recomputes the same partitions instead of re-planning
    * (the ADVICE r10 #4 hazard the rebase exists to close). */
  def pinInternal(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd.map(_.copy()), cdf.schema)
  }

  /** [[pinInternal]] re-based onto `target` — the session-migration face:
    * the returned leaf plans (and therefore widths its exchanges) under
    * `target`'s conf while its rows still compute through `df`'s own
    * execution (caches included). Used by the iterative loops to run
    * their per-round exchanges in a right-sized child session
    * ([[graft.functions.Fixpoint.rounds]]) without re-keying the
    * outer session's conf. */
  def pinInternal(df: DataFrame,
      target: org.apache.spark.sql.SparkSession): DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    target.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(
        cdf.queryExecution.toRdd.map(_.copy()), cdf.schema)
  }
}
