package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{BloomFilter, GroupFilters, Murmur3}

/** `mmh3(key, seed)` — seeded MurmurHash3 x86_32 over the UTF-8 bytes of a
  * string (or raw bytes of a binary), the engine's deterministic hash
  * family (SURVEY.md §1.5: the reference's Spark engine hashes with
  * `mmh3.hash(movie_id, i)`, reference
  * `spark-bloom-filter/bloomfilters_util.py:79`).
  *
  * A native expression rather than a UDF so it inlines into whole-stage
  * codegen: the generated code is a single static call, no boxing, no
  * closure dispatch. Spark's own `hash()` is murmur3 with seed fixed at 42
  * and a non-standard byte-tail mix, hence this expression.
  */
case class Mmh3(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!left.dataType.isInstanceOf[StringType] && left.dataType != BinaryType) {
      TypeCheckResult.TypeCheckFailure(
        s"mmh3 key must be STRING or BINARY, got ${left.dataType.sql}")
    } else if (right.dataType != IntegerType) {
      TypeCheckResult.TypeCheckFailure(
        s"mmh3 seed must be INT, got ${right.dataType.sql}")
    } else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = IntegerType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "mmh3"

  override protected def nullSafeEval(key: Any, seed: Any): Any = key match {
    case s: UTF8String  => Murmur3.hashBytes(s.getBytes, seed.asInstanceOf[Int])
    case b: Array[Byte] => Murmur3.hashBytes(b, seed.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bytes = left.dataType match {
      case StringType => (v: String) => s"$v.getBytes()"
      case _          => (v: String) => v
    }
    nullSafeCodeGen(ctx, ev, (key, seed) =>
      s"${ev.value} = graft.core.Murmur3.hashBytes(${bytes(key)}, $seed);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Mmh3 =
    copy(left = newLeft, right = newRight)
}

/** `bloom_might_contain(bits, m, k, key)` — true iff all `k` murmur3-seeded
  * bit positions of `key` are set in the packed filter `bits` of `m` bits.
  *
  * This is the probe kernel of the reference tester (reference
  * `spark-bloom-filter/bloomfilters_tester.py:27-42`
  * `check_false_positive`; Hadoop `tester/ReducerTester.java:78-98`),
  * reshaped as a scalar expression so the tester becomes
  * `test JOIN filters ON rating` + this predicate — Catalyst then gets to
  * pick broadcast vs shuffle join, and the expression stays inside
  * whole-stage codegen on the probe (big) side.
  */
case class BloomMightContain(
    first: Expression,   // bits BINARY
    second: Expression,  // m INT
    third: Expression,   // k INT
    fourth: Expression)  // key STRING or BINARY
    extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    if (first.dataType != BinaryType) {
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain bits must be BINARY, got ${first.dataType.sql}")
    } else if (second.dataType != IntegerType || third.dataType != IntegerType) {
      TypeCheckResult.TypeCheckFailure("bloom_might_contain m and k must be INT")
    } else if (!fourth.dataType.isInstanceOf[StringType] && fourth.dataType != BinaryType) {
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain key must be STRING or BINARY, got ${fourth.dataType.sql}")
    } else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = BooleanType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "bloom_might_contain"

  override protected def nullSafeEval(bits: Any, m: Any, k: Any, key: Any): Any = {
    val keyBytes = key match {
      case s: UTF8String  => s.getBytes
      case b: Array[Byte] => b
    }
    BloomFilter.mightContainBytes(
      bits.asInstanceOf[Array[Byte]],
      m.asInstanceOf[Int], k.asInstanceOf[Int], keyBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bytes = fourth.dataType match {
      case StringType => (v: String) => s"$v.getBytes()"
      case _          => (v: String) => v
    }
    nullSafeCodeGen(ctx, ev, (bits, m, k, key) =>
      s"${ev.value} = graft.core.BloomFilter.mightContainBytes($bits, $m, $k, ${bytes(key)});")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): BloomMightContain =
    copy(first = f, second = s, third = t, fourth = q)
}

/** `bloom_probe_groups(group, key)` against a driver-collected, broadcast
  * [[graft.core.GroupFilters]] artifact — the probe kernel in the shape the
  * reference testers actually run it (filters loaded driver-side, shipped
  * once per worker, probe = a map over the test set; reference
  * `spark-bloom-filter/bloomfilters_tester.py:81,94-112`,
  * `hadoop-bloom-filter/.../tester/BloomFilterTester.java:83-88`).
  *
  * Vs the join formulation ([[BloomMightContain]] over
  * `test JOIN filters`): the filter bytes are referenced, never copied —
  * a joined BINARY attribute is materialized per probe row (~m/8 bytes of
  * memcpy each), which at bench scale is gigabytes of allocation per query
  * and at cluster scale is pure wasted memory bandwidth. Here the probe
  * stays a narrow whole-stage-codegen projection: binary-search the group
  * (log2 #groups int compares), then k seeded hashes against the shared
  * byte array.
  *
  * Returns NULL for a group with no filter — callers filter on
  * `isNotNull`, preserving the inner-join skip semantics (SURVEY.md §2.6).
  */
case class BloomProbeGroups(
    filters: Broadcast[GroupFilters],
    left: Expression,   // group INT
    right: Expression)  // key STRING or BINARY
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != IntegerType) {
      TypeCheckResult.TypeCheckFailure(
        s"bloom_probe_groups group must be INT, got ${left.dataType.sql}")
    } else if (!right.dataType.isInstanceOf[StringType] && right.dataType != BinaryType) {
      TypeCheckResult.TypeCheckFailure(
        s"bloom_probe_groups key must be STRING or BINARY, got ${right.dataType.sql}")
    } else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = BooleanType

  /** NULL on absent group even with non-null inputs. */
  override def nullable: Boolean = true

  override def prettyName: String = "bloom_probe_groups"

  @transient private lazy val gf: GroupFilters = filters.value

  override protected def nullSafeEval(group: Any, key: Any): Any = {
    val i = gf.indexOf(group.asInstanceOf[Int])
    if (i < 0) null
    else {
      val keyBytes = key match {
        case s: UTF8String  => s.getBytes
        case b: Array[Byte] => b
      }
      java.lang.Boolean.valueOf(gf.mightContain(i, keyBytes))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference the broadcast HANDLE (small) in the task binary; the
    // payload moves through the block manager once per executor, and the
    // local value is resolved once per generated-class instance
    val bcRef = ctx.addReferenceObj("filtersBc", filters,
      classOf[Broadcast[GroupFilters]].getName)
    val gfVar = ctx.addMutableState("graft.core.GroupFilters", "groupFilters",
      v => s"$v = (graft.core.GroupFilters) $bcRef.value();")
    val bytes = right.dataType match {
      case StringType => (v: String) => s"$v.getBytes()"
      case _          => (v: String) => v
    }
    nullSafeCodeGen(ctx, ev, (group, key) => {
      val idx = ctx.freshName("gi")
      s"""
         |int $idx = $gfVar.indexOf($group);
         |if ($idx < 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $gfVar.mightContain($idx, ${bytes(key)});
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomProbeGroups =
    copy(left = newLeft, right = newRight)
}

/** `nb_score_sum(model, prior, tokens)` — integer Naive Bayes label score
  * `prior + Σ_t logp_q(t)` over a token array, probing a driver-built,
  * broadcast [[graft.core.QuantizedLogProbs]] table (O(1) hash probe per
  * token; unseen tokens take the table's default cell).
  *
  * The serving kernel of the `st26` streaming scorer: the fitted model is
  * a bounded artifact ([[graft.core.QuantizedLogProbs]] scaladoc), so the
  * probe rides the [[BloomProbeGroups]] pattern — broadcast HANDLE in the
  * task binary, payload once per executor, value resolved once per
  * generated class — and the whole per-row score stays one codegen'd
  * integer fold with no shuffle, no join, and no state. */
case class NbScoreSum(
    model: Broadcast[graft.core.QuantizedLogProbs],
    prior: Long,
    child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nb_score_sum tokens must be ARRAY<STRING>, got ${t.sql}")
  }

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "nb_score_sum"

  @transient private lazy val qlp: graft.core.QuantizedLogProbs = model.value

  override protected def nullSafeEval(tokens: Any): Any = {
    val arr = tokens.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    var acc = prior
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      acc += qlp.lookup(arr.getUTF8String(i).toString)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("nbModelBc", model,
      classOf[Broadcast[graft.core.QuantizedLogProbs]].getName)
    val qlpVar = ctx.addMutableState("graft.core.QuantizedLogProbs",
      "nbLogProbs",
      v => s"$v = (graft.core.QuantizedLogProbs) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, arr => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |long ${ev.value}_acc = ${prior}L;
         |int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc +=
         |    $qlpVar.lookup($arr.getUTF8String($i).toString());
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NbScoreSum =
    copy(child = newChild)
}
