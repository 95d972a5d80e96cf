package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.plans.{InnerLike, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType

import graft.core.BloomFilter
import graft.functions.{BloomBuildAgg, BloomMightContain}

/** User-space re-derivation of Spark's `InjectRuntimeFilter`, built on this
  * engine's own kernels (SURVEY.md §7.3's stretch rule — the Bloom
  * structure applied to its actual production purpose):
  *
  * For an equi-join where one side is small and the other large, inject on
  * the large side a pre-filter
  *
  * {{{
  * bloom_might_contain(scalar-subquery(bloom_build_native(smallKey)),
  *                     m, k, bigKey)
  * }}}
  *
  * so the big side drops non-joinable rows BEFORE the join's shuffle.
  * Correctness is unconditional: Bloom filters have zero false negatives,
  * so the filter can only remove rows whose key does not exist on the
  * small side — rows that could never join (Inner/LeftSemi). False
  * positives merely survive to the join, which re-checks exactly.
  *
  * Off by default; enable with `spark.graft.runtimeBloom.enabled=true`
  * (`true`/`false` in any case). `maxBuildBytes`/`minProbeBytes` are
  * longs ≥ 0 and `fpp` lies in (0, 1); any other value fails planning
  * with a message naming the key. Sizing uses the small side's
  * size-in-bytes estimate (row estimate × safety factor) —
  * overestimation only wastes filter bits, never correctness.
  */
case class InjectBloomRuntimeFilter(spark: SparkSession) extends Rule[LogicalPlan] {

  private val enabledKey = "spark.graft.runtimeBloom.enabled"
  private val maxBuildKey = "spark.graft.runtimeBloom.maxBuildBytes"     // small side cap
  private val minProbeKey = "spark.graft.runtimeBloom.minProbeBytes"     // big side floor
  private val fppKey = "spark.graft.runtimeBloom.fpp"

  private def conf[T](key: String, default: T, what: String)(read: String => Option[T]): T =
    graft.Config.setting(key, spark.conf.getOption(key), default, what)(read)

  private def bytes(key: String, default: Long): Long =
    conf(key, default, "a long >= 0")(_.toLongOption.filter(_ >= 0))

  // Registered via injectPreCBORule: the batch runs ONCE (no fixed point),
  // after operator optimization (predicates already pushed, sizes
  // meaningful) and before join reordering — so the rule needs no
  // anti-re-injection bookkeeping, and physical planning's subquery
  // machinery picks up the new ScalarSubquery exactly as it does for
  // Spark's own InjectRuntimeFilter.
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf(enabledKey, false, "true or false")(_.toBooleanOption)) return plan
    val maxBuild = bytes(maxBuildKey, 8L * 1024 * 1024)
    val minProbe = bytes(minProbeKey, 64L * 1024 * 1024)
    val fpp = conf(fppKey, 0.05, "in (0, 1)")(_.toDoubleOption.filter(p => p > 0 && p < 1))

    plan.transformUp {
      case j @ Join(left, right, joinType, Some(cond), _)
          if (joinType.isInstanceOf[InnerLike] || joinType == LeftSemi)
            && !alreadyFiltered(left) && !alreadyFiltered(right) =>
        extractEquiKeys(cond, left, right) match {
          case Some((leftKey, rightKey)) =>
            val leftSize = left.stats.sizeInBytes
            val rightSize = right.stats.sizeInBytes
            if (rightSize <= maxBuild && leftSize >= minProbe) {
              j.copy(left = injectFilter(left, leftKey, right, rightKey, fpp))
            } else if (joinType.isInstanceOf[InnerLike]
                && leftSize <= maxBuild && rightSize >= minProbe) {
              j.copy(right = injectFilter(right, rightKey, left, leftKey, fpp))
            } else j
          case None => j
        }
    }
  }

  /** Idempotency guard: a join side already carrying an injected probe is
    * left alone. Makes the rule a no-op on its own output, so it is safe
    * in fixed-point batches (`spark.experimental.extraOptimizations`) as
    * well as the run-once preCBO slot it is normally registered in.
    *
    * Recognition is by the injected alias marker, walked through any
    * Filter/Project chain — so a node interposed by another rule in the
    * same fixed-point batch cannot defeat the guard, and a query that
    * legitimately uses `bloom_might_contain` in its own predicates does
    * NOT suppress injection (only OUR marker does). */
  private def alreadyFiltered(side: LogicalPlan): Boolean = side match {
    case Filter(cond, child) =>
      cond.exists {
        case BloomMightContain(sub: ScalarSubquery, _, _, _) =>
          sub.plan.expressions.exists {
            case a: Alias => a.name == injectedAlias
            case _ => false
          }
        case _ => false
      } || alreadyFiltered(child)
    case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
      alreadyFiltered(p.child)
    case _ => false
  }

  /** One (bigKey = smallKey) equality whose sides resolve to STRING
    * attributes of the respective children. */
  private def extractEquiKeys(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(AttributeReference, AttributeReference)] = {
    def attrs(e: Expression): Option[(AttributeReference, AttributeReference)] = e match {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.dataType == StringType && b.dataType == StringType =>
        if (left.outputSet.contains(a) && right.outputSet.contains(b)) Some((a, b))
        else if (left.outputSet.contains(b) && right.outputSet.contains(a)) Some((b, a))
        else None
      case _ => None
    }
    cond match {
      case eq: EqualTo => attrs(eq)
      case And(eq: EqualTo, _) => attrs(eq) // first conjunct is enough
      case _ => None
    }
  }

  /** Alias marking a build aggregate as injected by THIS rule — the
    * durable idempotency marker (plan-structural, survives any transform,
    * unlike a TreeNodeTag which a node rewrite can drop). */
  private val injectedAlias = "graft_rt_bloom"

  /** Probe-side Filter over a scalar-subquery filter build on the small
    * side. Geometry from the small side's row estimate (bytes / 32 as a
    * conservative rows guess, doubled for safety). */
  private def injectFilter(big: LogicalPlan, bigKey: AttributeReference,
      small: LogicalPlan, smallKey: AttributeReference, fpp: Double): LogicalPlan = {
    val estRows = math.max(64L, (small.stats.sizeInBytes / 32L).toLong * 2L)
    val m = BloomFilter.numBits(estRows, fpp)
    val k = BloomFilter.numHashes(fpp)
    val buildAgg = Aggregate(
      Nil,
      Seq(Alias(
        BloomBuildAgg(smallKey, Literal(m), Literal(k))
          .toAggregateExpression(isDistinct = false), injectedAlias)()),
      small)
    val probe = BloomMightContain(
      ScalarSubquery(buildAgg), Literal(m), Literal(k), bigKey)
    Filter(probe, big)
  }
}

object InjectBloomRuntimeFilter {
  /** Sugar for tests/sessions without the extension. */
  def enable(spark: SparkSession): Unit =
    spark.conf.set("spark.graft.runtimeBloom.enabled", "true")
}
