package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** One argument of a [[KernelSpec]]: a column of one accepted type, or an
  * INT constant (a Scala `Int` on the Column API, an INT literal in SQL). */
sealed abstract class KernelArg(val sql: String) extends Serializable

object KernelArg {
  case object Str extends KernelArg("STRING")
  case object Strs extends KernelArg("ARRAY<STRING>")
  /** A float or double vector; the kernel gets its `isFloat` flag as a
    * trailing Boolean, after the constants. */
  case object Vec extends KernelArg("ARRAY<FLOAT|DOUBLE>")
  case object Doubles extends KernelArg("ARRAY<DOUBLE>")
  case object Ints extends KernelArg("ARRAY<INT>")
  case object Bin extends KernelArg("BINARY")
  final case class Const(name: String, min: Int = Int.MinValue,
      max: Int = Int.MaxValue) extends KernelArg("INT")

  private[functions] def admits(a: KernelArg, t: DataType): Boolean = (a, t) match {
    case (Str, _: StringType) | (Strs, ArrayType(_: StringType, _)) |
        (Vec, ArrayType(FloatType | DoubleType, _)) |
        (Doubles, ArrayType(DoubleType, _)) | (Ints, ArrayType(IntegerType, _)) |
        (Bin, BinaryType) => true
    case _ => false
  }
}

/** A native per-row kernel, declared once: its SQL name, the static method
  * that computes it, its arguments in SQL order (columns first, then
  * constants) and its result type. `sameElements`: every [[KernelArg.Vec]]
  * argument must share one element type. */
final case class KernelSpec(name: String, owner: Class[_], method: String,
    args: Seq[KernelArg], result: DataType, sameElements: Boolean = false) {

  private[functions] val columns: Seq[KernelArg] =
    args.filterNot(_.isInstanceOf[KernelArg.Const])
  private[functions] val constants: Seq[KernelArg.Const] =
    args.collect { case c: KernelArg.Const => c }

  /** The SQL builder: columns pass through, each constant must be an INT
    * literal. */
  def fromSql(exprs: Seq[Expression]): Expression = {
    val consts = args.zip(exprs).collect { case (c: KernelArg.Const, e) =>
      e match {
        case Literal(v: Int, IntegerType) => v
        case _ => throw new IllegalArgumentException(
          s"$name: ${c.name} must be an INT literal, got ${e.sql}")
      }
    }
    Kernel(this, args.zip(exprs).collect {
      case (a, e) if !a.isInstanceOf[KernelArg.Const] => e
    }, consts)
  }
}

/** The one Catalyst node behind every [[Kernels]] entry: the entry's static
  * method over `children` (the column arguments), then `consts`, then one
  * `isFloat` flag per vector argument. Evaluation and generated code both
  * come from a Spark `StaticInvoke` of that call, so the method is all a
  * kernel owns. NULL in, NULL out. The node stays in the plan (the plan
  * audits look for kernel names there) and renders as
  * `name(args, constants)`, e.g. `word_ngrams(tokens#3, 3)`. */
case class Kernel(spec: KernelSpec, children: Seq[Expression], consts: Seq[Int])
    extends Expression {
  spec.constants.zip(consts).foreach { case (c, v) =>
    require(v >= c.min && v <= c.max, s"${spec.name}: ${c.name} must be " +
      (if (c.max == Int.MaxValue) s">= ${c.min}" else s"in ${c.min}..${c.max}") + s", got $v")
  }

  override def dataType: DataType = spec.result
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullIntolerant: Boolean = true
  // `call` reuses one argument buffer: each evaluating thread needs its copy
  override def stateful: Boolean = true
  override def prettyName: String = spec.name
  override def toString: String = s"$prettyName(${(children ++ consts).mkString(", ")})"

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = children.map(_.dataType)
    val elems = spec.columns.zip(types).collect { case (KernelArg.Vec, ArrayType(e, _)) => e }
    if (spec.columns.zip(types).forall { case (a, t) => KernelArg.admits(a, t) } &&
        (!spec.sameElements || elems.distinct.size <= 1)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName arguments must be (${spec.columns.map(_.sql).mkString(", ")})" +
        (if (spec.sameElements) " of one element type" else "") +
        s", got (${types.map(_.sql).mkString(", ")})")
  }

  @transient private lazy val call: StaticInvoke = {
    val isFloat = spec.columns.zip(children).collect { case (KernelArg.Vec, c) =>
      c.dataType.asInstanceOf[ArrayType].elementType == FloatType }
    StaticInvoke(spec.owner, dataType, spec.method,
      children ++ consts.map(Literal(_)) ++ isFloat.map(Literal(_)), returnNullable = false)
  }

  override def eval(input: InternalRow): Any = call.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.genCode(ctx)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Kernel = copy(children = newChildren)
}

/** The kernel table: every native per-row kernel of `graft.functions`
  * except the five kept by hand (`mmh3` converts its key bytes in
  * generated code, `bloom_might_contain` is matched by the runtime bloom
  * rule, `bloom_probe_groups` and `nb_score_sum` carry broadcasts, and
  * `bloom_build_native` is an aggregate). Each is native for one reason:
  * the built-in composition it replaces runs interpreted lambdas
  * (`transform`, `aggregate`, `zip_with`, `filter`) or a regex per row,
  * while the kernel is one static call inside whole-stage codegen. The
  * vector kernels reject a NULL element with a named error
  * ([[VectorKernels]] documents why). */
object Kernels {
  import KernelArg._

  private val vk = VectorKernels.getClass
  private val strings = ArrayType(StringType, containsNull = false)
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val longs = ArrayType(LongType, containsNull = false)
  private val doubles = ArrayType(DoubleType, containsNull = false)

  val table: Seq[KernelSpec] = Seq(
    // the corpus tokenizer, exactly regexp_extract_all(lower(text),
    // '[a-z0-9]+', 0): two branch tests per byte instead of a backtracking
    // regex per char, in front of every text and dedup operator
    KernelSpec("word_tokens", vk, "wordTokens", Seq(Str), strings),
    // word n-gram shingles; inputs shorter than n yield one shingle of all
    // tokens, so no document drops out of the dedup universe
    KernelSpec("word_ngrams", vk, "wordNgrams", Seq(Strs, Const("n", 1)), strings),
    // [total, distinct] n-gram counts without materializing the shingles
    KernelSpec("ngram_stats", vk, "wordNgramStats", Seq(Strs, Const("n", 1)), longs),
    // [top, total] adjacent-bigram repetition (Gopher): one narrow
    // projection instead of explode + two aggregate levels
    KernelSpec("bigram_stats", vk, "bigramStats", Seq(Strs), longs),
    // [n_words, tok_chars, n_alpha_words, n_stop_distinct] of the Gopher
    // rule filter in one pass
    KernelSpec("gopher_token_stats", vk, "gopherTokenStats", Seq(Str), longs),
    // [en, de, fr, es] stopword counts: fronts language ID and quality scoring
    KernelSpec("stop_profile_counts", vk, "stopProfileCounts", Seq(Str), ints),
    // feature-hashed linear quality score, integer-exact so a SQL engine
    // reproduces it: one scan, no token explode, no weight-table join
    KernelSpec("hashed_lr_score", vk, "hashedLrScore", Seq(Str, Const("dim", 1)), LongType),
    // element-wise seeded murmur3, the array sibling of mmh3
    KernelSpec("hash_array", vk, "hashArray", Seq(Strs, Const("seed")), ints),
    // element-wise xxhash64: transform(arr, x -> xxhash64(x)) runs an
    // interpreted lambda per element on every dedup verify side
    KernelSpec("xxhash64_array", vk, "xxhash64Array", Seq(Strs), longs),
    // winnowing fingerprint: the sliding-window minimum has no lambda-free
    // composition of built-ins
    KernelSpec("winnow", vk, "winnow", Seq(Ints, Const("w", 1)), ints),
    // MinHash signature: H x |shingles| hashes, min-folded in place
    KernelSpec("minhash_sig", vk, "minhashSig", Seq(Strs, Const("numHashes", 1)), ints),
    // 64-bit SimHash; near duplicates differ in few bits (bit_count(a ^ b))
    KernelSpec("simhash64", vk, "simhash", Seq(Strs), LongType),
    // aggregate(zip_with(a, b, ...)) boxes every element through an
    // interpreted lambda: ~1.6B calls on a 25M-pair similarity self-join
    KernelSpec("cosine_sim", vk, "cosine", Seq(Vec, Vec), DoubleType, sameElements = true),
    // the ADC building block of product quantization, and norms as dot(x, x)
    KernelSpec("dot_product", vk, "dot", Seq(Vec, Vec), DoubleType, sameElements = true),
    // the residual step of residual-encoded IVF x PQ (r = v - centroid)
    KernelSpec("vec_sub", vk, "vecSub", Seq(Vec, Vec), doubles),
    // [scale, max_abs_err] of symmetric per-vector int8 quantization
    KernelSpec("int8_quant_stats", vk, "int8QuantStats", Seq(Vec), doubles),
    // the SQ8 container: 8-byte big-endian scale, then one code byte per dim
    KernelSpec("sq8_encode", vk, "sq8Encode", Seq(Vec), BinaryType),
    // asymmetric cosine of a full-width query against an sq8_encode'd vector
    KernelSpec("sq8_cos", vk, "sq8Cos", Seq(Vec, Bin), DoubleType),
    // the PQ code word and the query's ADC table: the codebook is a
    // broadcast-sized array, so encoding is a narrow projection that never
    // explodes subvectors or joins a centroid table
    KernelSpec("pq_encode", vk, "pqEncode",
      Seq(Doubles, Doubles, Const("m", 1), Const("ksub", 1)), ints),
    KernelSpec("pq_table", vk, "pqTable",
      Seq(Doubles, Doubles, Const("m", 1), Const("ksub", 1)), doubles),
    // m table lookups per (query, candidate): PQ scanning is
    // memory-bandwidth-bound, not FLOP-bound
    KernelSpec("pq_adc", vk, "pqAdc", Seq(Doubles, Ints, Const("ksub", 1)), DoubleType),
    // signed-random-projection LSH signature; executors regenerate the
    // hyperplanes from (seed, bit, dim), so nothing is broadcast
    KernelSpec("srp_sig", vk, "srpSig",
      Seq(Vec, Const("bits", 1, 64), Const("seed")), LongType),
    // the fuzzy-match verify kernel on every blocked candidate pair
    KernelSpec("jaro_winkler", graft.core.JaroWinkler.getClass, "similarity",
      Seq(Str, Str), DoubleType),
    // lossless prefilters: levenshtein(a, b) <= d implies hist_l1 <= 2d,
    // and the Jaro match count m <= hist_common
    KernelSpec("hist_l1", graft.core.CharHist.getClass, "l1", Seq(Str, Str), IntegerType),
    KernelSpec("hist_common", graft.core.CharHist.getClass, "common",
      Seq(Str, Str), IntegerType))

  private val byName: Map[String, KernelSpec] = table.map(s => s.name -> s).toMap

  def apply(name: String): KernelSpec = byName(name)
}
