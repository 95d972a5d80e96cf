package graft.functions

import org.apache.spark.sql.DataFrame

/** The staging recipe for WIDE PER-ROW transforms (array-lambda feature
  * extraction, per-frame hashing, any projection whose per-row CPU cost
  * dwarfs its input bytes) — extracted after three lanes re-derived the
  * same fix by measurement (VERDICT r13 ask #5):
  *
  *   - mm8 `pHash`: 424s collapsed → ~1s staged at sf0.1;
  *   - the pHash rework (flat codegen'd sums measured 4.5× slower than
  *     staged array folds);
  *   - mm9 `videoNearDup`: 33.8s single-task maiden plan → 1.58s staged.
  *
  * Two independent failure modes, one discipline:
  *
  *  1. '''[[spread]] before the transform.''' A small-file scan yields a
  *     handful of input splits (ONE at test SF), and Spark parallelism is
  *     split-bound — an expensive projection planted directly on the scan
  *     runs on one task while the other 31 threads idle. Repartitioning
  *     to `spark.sql.shuffle.partitions` first pays one narrow exchange
  *     (the pre-transform row: ids + raw bytes, once) to buy full-width
  *     CPU on the transform. At 100 TB the scan has plenty of splits and
  *     the exchange is a no-op to skip — this knob matters precisely on
  *     the small/medium tail where file counts, not rows, set
  *     parallelism.
  *
  *  2. '''[[pin]] between stages.''' Higher-order array lambdas run
  *     OUTSIDE whole-stage codegen, so they get no common-subexpression
  *     elimination, and Catalyst's `CollapseProject` happily inlines a
  *     producing projection into every downstream reference — re-running
  *     a 64-substring decode 63× per row (the measured 21–400× blowups
  *     above). Re-basing a stage on its own RDD makes its output arrays
  *     PHYSICAL columns: an analysis barrier the optimizer cannot
  *     collapse through. The cost is exiting codegen at the stage
  *     boundary — already exited, because the lambdas aren't codegen'd.
  *
  * [[stagedTransform]] composes both: spread once, then pin after every
  * stage. Use one stage per "compute an array/column that later stages
  * reference more than once".
  */
object Staging {

  /** Pin `df`'s current output as physical columns by re-basing it on its
    * own RDD — an analysis barrier `CollapseProject` (and every other
    * plan rewrite) cannot cross. Deterministic: same rows, same schema,
    * same partitioning; only the lineage is cut. */
  def pin(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.pinInternal(df)

  /** Repartition to the session's shuffle-partition width so a
    * split-bound scan (few small files) doesn't serialize an expensive
    * downstream transform onto one task. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** [[spread]] only when the plan's own parallelism is BELOW the session
    * width (r16): a one-row-group local file serializes the tokenizer /
    * shingle / signature kernels onto a single task (measured: the dedup
    * family's first stage ran 1.3s on ONE task at sf0.1 while 31 cores
    * idled), while a 100 TB scan already carries thousands of splits and
    * must NOT pay a raw-text exchange just to spread. Scale-adaptive by
    * construction — the guard reads the planned partition count, never a
    * constant, so the same code takes the exchange exactly when the scan
    * cannot feed the cores (guide §2.5 "input skew: one huge unsplittable
    * file ... repartition immediately after the read"). */
  def spreadIfNarrow(df: DataFrame): DataFrame =
    // a streaming frame cannot be planned as a batch RDD (and a
    // micro-batch's spread decision belongs to its foreachBatch body —
    // the nearDupAdmission precedent), so the guard passes it through
    if (df.isStreaming) df
    else if (df.rdd.getNumPartitions
        < df.sparkSession.sessionState.conf.numShufflePartitions) spread(df)
    else df

  /** Shuffle-partition width for an ITERATIVE loop's per-round exchanges,
    * derived from the loop's own measured state size (r17, guide §2.2
    * "fewer, larger reduce partitions" + §2 "make partitioning
    * scale-adaptive"): the graph/cluster loops exchange a node- or
    * doc-keyed relation every round, and at small state a session-width
    * exchange is pure scheduling overhead — the r16 driver measured the
    * iterative lanes ~2× FASTER at local[8] than local[32] because every
    * round ran 32 tasks over KBs. Width = ceil(stateRows / perPart) rows
    * per partition (default 1M ≈ 16–32 MB of narrow rows, the guide's
    * shuffle-partition sweet spot), clamped to the session width — a
    * 100 TB run's node relation takes the session's own parallelism,
    * exactly as today, so the knob only BOUNDS width from below at small
    * state, never shrinks a big run. A fixed row budget
    * ([[RoundRowsPerPart]]), never a hard-coded core count; the loops take
    * it through [[Fixpoint.rounds]]. */
  /** `perPartRows` overrides the 1M-row default for operator families
    * whose per-row WORK is much larger than a narrow node row — e.g. the
    * degree-oriented wedge joins budget ~16k edges/partition because each
    * edge fans out to O(√m) wedge rows. A density budget per family, data-
    * derived width per run; never a core count. */
  def roundWidth(spark: org.apache.spark.sql.SparkSession,
      stateRows: Long, perPartRows: Long = 0L): Int = {
    val perPart = if (perPartRows > 0) perPartRows else RoundRowsPerPart
    val sessW = spark.sessionState.conf.numShufflePartitions
    math.min(sessW.toLong,
      math.max(1L, (stateRows + perPart - 1) / perPart)).toInt
  }

  /** [[roundWidth]]'s default rows per partition. */
  private val RoundRowsPerPart: Long = 1000000L

  /** [[spread]] `df`, then apply each stage and [[pin]] its output:
    * {{{
    * val hashed = Staging.stagedTransform(docs)(
    *   _.select(col("id"), decodePixels.as("px")),     // stage 1: decode
    *   _.select(col("id"), dctCoefs.as("coefs")))      // stage 2: reuse px
    * }}}
    * Stage N's arrays are physical by the time stage N+1 references them,
    * so a k-fold reuse costs k `element_at`s, not k re-decodes. */
  def stagedTransform(df: DataFrame)(
      stages: (DataFrame => DataFrame)*): DataFrame =
    stages.foldLeft(spread(df))((d, f) => pin(f(d)))
}
