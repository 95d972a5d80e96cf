package graft.functions

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The mechanics of an ITERATIVE loop, written once: the loop over Spark
  * jobs that every graph and clustering pass in this library runs
  * (*MapReduce Algorithms for Big Data Analysis*, VLDB 2012 — iterative
  * graph algorithms as a loop over jobs). A loop supplies only its
  * round body; this object owns
  *
  *  - the ROUND WIDTH: [[rounds]] sizes the per-round exchanges from the
  *    loop's counted state ([[Staging.roundWidth]]) and, when that is
  *    narrower than the session, plans them in a child session of that
  *    width (the CPU-heavy fronts stay on the outer session);
  *  - the ROUND STEP ([[Rounds.step]]): re-base the round relation on its
  *    own RDD in the round session (its logical plan stays one leaf deep
  *    instead of doubling per round, while RDD lineage keeps fault
  *    tolerance — unlike localCheckpoint), persist it, materialize it with
  *    ONE Spark job — a `noop` write whose observation carries the round's
  *    metric ([[materialize]]) — then release the predecessor and any
  *    per-round temporary cache;
  *  - FIXED-POINT DETECTION ([[Rounds.iterate]]): run rounds until a cap
  *    or until the round metric stops changing, reporting rounds run and
  *    whether the loop converged. Each round body also gets its
  *    predecessor's metric, so a loop whose next round needs a scalar of
  *    the last one (pagerank's dangling mass) reads it from the job that
  *    already ran instead of firing another.
  */
object Fixpoint {

  /** Longest wait for a round's observed metric. Spark posts it with the
    * materializing write; if it is still absent after this bound, the
    * step computes the same aggregate over the persisted round relation
    * with one explicit job — the same value, so the bound never changes a
    * result, and a lost metric costs a job instead of a hang. */
  val MetricWait: FiniteDuration = 5.seconds

  /** A round metric of type `T`: one aggregate over the round relation,
    * observed on the job that materializes it. */
  final class Metric[T] private[Fixpoint] (private[graft] val agg: Column)

  object Metric {
    /** The round relation's row count. */
    val rows: Metric[Long] = new Metric(count(lit(1)))

    /** `agg` must evaluate to a `T` over the round relation. */
    def observed[T](agg: Column): Metric[T] = new Metric(agg)
  }

  /** Exact Σ label of a `(…, label)` round relation: an order-independent
    * integer sum (decimal(28,0) summed carries 38 digits — 10^12 nodes of
    * int64 ids). */
  val labelSum: Metric[java.math.BigDecimal] = Metric.observed(
    coalesce(sum(col("label").cast("decimal(28,0)")),
      lit(0).cast("decimal(28,0)")))

  /** The min-label fixed-point test: labels only ever DECREASE (every
    * update is a `least`), so a round changed zero labels iff Σ label is
    * unchanged. */
  def sameSum(prev: java.math.BigDecimal, cur: java.math.BigDecimal): Boolean =
    prev.compareTo(cur) == 0

  /** A round body's output: the next state plus per-round temporary
    * caches the step releases once the state is materialized. */
  final case class Round(next: DataFrame, temps: Seq[DataFrame] = Nil)

  /** One materialized round: its persisted state and metric value. */
  final case class Step[T](state: DataFrame, value: T)

  /** A finished loop: the final (persisted) state, rounds run, whether the
    * metric reached its fixed point, and the caches the loop still holds —
    * the final state's, or the initial caches when no round ran. */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean,
      caches: Seq[DataFrame])

  /** The round context for a loop whose state holds `stateRows` rows
    * (`perPartRows` as in [[Staging.roundWidth]]). */
  def rounds(spark: SparkSession, stateRows: Long,
      perPartRows: Long = 0L): Rounds = {
    val w = Staging.roundWidth(spark, stateRows, perPartRows)
    new Rounds(spark, roundSession(spark, w), w)
  }

  /** A child session whose `spark.sql.shuffle.partitions` is `w`, or the
    * outer session itself when `w` is already its width (big runs plan
    * exactly as without the child). The child keeps the outer session's
    * runtime SQL confs ([[graft.Config.child]]). The shared CacheManager
    * makes persist/unpersist and clearCache work identically across
    * parent and child. */
  private def roundSession(spark: SparkSession, w: Int): SparkSession =
    if (w == spark.sessionState.conf.numShufflePartitions) spark
    else graft.Config.child(spark, "spark.sql.shuffle.partitions" -> w.toString)

  /** `agg`'s value from `obs`, waiting at most [[MetricWait]]; computed
    * over `df` with one job when the metric never arrives. */
  private[graft] def observed(obs: Observation, df: DataFrame,
      agg: Column): Any =
    try Await.result(obs.future, MetricWait).get(0)
    catch { case _: TimeoutException => df.agg(agg).head().get(0) }

  /** Persist `df` and materialize it with ONE Spark job: a `noop` write
    * of the persisted relation, observed with `agg` (several scalars ride
    * one `struct`). Returns the persisted relation and `agg`'s value
    * ([[observed]]: bounded wait, one-job fallback). A `count()` instead
    * costs a job per stage of its aggregate on top of the plan's own. */
  def materialize(df: DataFrame, agg: Column): (DataFrame, Any) = {
    val obs = Observation()
    val cached = df.observe(obs, agg.as("metric"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    cached.write.format("noop").mode("overwrite").save()
    (cached, observed(obs, cached, agg))
  }

  final class Rounds private[Fixpoint] (outer: SparkSession,
      val session: SparkSession, val width: Int) {

    private def narrowed: Boolean = session ne outer

    /** Re-base `df` on its own RDD, planned in the round session. */
    def pin(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.Bridge.pinInternal(df, session)

    /** Bring a loop-invariant input into the rounds: coalesced to the
      * round width so each round's map side stops scanning it at full
      * session width. The identity when the rounds run at session width. */
    def enter(df: DataFrame): DataFrame =
      if (narrowed) pin(df.coalesce(width)) else df

    /** Move `df` into the round session without changing its partitions.
      * The identity when the rounds run at session width. */
    def rebase(df: DataFrame): DataFrame =
      if (narrowed) pin(df) else df

    /** Materialize one round with one Spark job: pin `body`, persist it,
      * and write it once to `noop` — the write also fires `metric` — then
      * release `release` (the predecessor and any temporaries). */
    def step[T](body: DataFrame, metric: Metric[T] = Metric.rows,
        release: Seq[DataFrame] = Nil): Step[T] = {
      val (next, value) = materialize(pin(body), metric.agg)
      release.foreach(_.unpersist(false))
      Step(next, value.asInstanceOf[T])
    }

    /** Run `body` from `init` for at most `maxRounds` rounds, stopping
      * after the first round whose metric is `stable` against its
      * predecessor's (`seed` stands for the initial state's metric when it
      * is already known). `body` gets the current state, the 1-based
      * round number and the current state's metric (`seed` in round 1);
      * `initCaches` are the caches behind `init`, released after round 1
      * like every later predecessor. */
    def iterate[T](init: DataFrame, maxRounds: Int, metric: Metric[T],
        seed: Option[T] = None, initCaches: Seq[DataFrame] = Nil)(
        body: (DataFrame, Int, Option[T]) => Round)(
        stable: (T, T) => Boolean): Result = {
      var state = init
      var caches = initCaches
      var prev = seed
      var n = 0
      var converged = false
      while (n < maxRounds && !converged) {
        n += 1
        val round = body(state, n, prev)
        val s = step(round.next, metric, caches ++ round.temps)
        converged = prev.exists(stable(_, s.value))
        prev = Some(s.value)
        state = s.state
        caches = Seq(s.state)
      }
      Result(state, n, converged, caches)
    }
  }
}
