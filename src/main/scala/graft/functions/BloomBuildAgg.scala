package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.BloomFilter

/** Native per-group Bloom build: `bloom_build_native(key, m, k)` → BINARY.
  *
  * The fold is [[graft.core.BloomFilter]]'s `put` per key and the merge
  * is bitwise OR, so the output is byte-identical to a driver-side filter
  * holding the same keys — asserted in FunctionsSpec. `update` reads the
  * three columns straight off the `InternalRow` and hashes the key's
  * UTF8String bytes in place — no case-class materialization, no String
  * decode/re-encode per input row.
  * The buffer lives as a plain object and serializes (m, k, bits) only at
  * partial-aggregation shuffle boundaries, which is exactly the
  * fixed-size-per-(partition, group) shuffle contract the pipeline's
  * 100 TB design rests on. Mirrors the shape of Spark's internal
  * `BloomFilterAggregate` (SURVEY.md §2.3 note), which is not per-group
  * and not public.
  */
case class BloomBuildAgg(
    first: Expression,   // key STRING or BINARY
    second: Expression,  // m INT
    third: Expression,   // k INT
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomBuf] with TernaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!first.dataType.isInstanceOf[StringType] && first.dataType != BinaryType) {
      TypeCheckResult.TypeCheckFailure(
        s"bloom_build_native key must be STRING or BINARY, got ${first.dataType.sql}")
    } else if (second.dataType != IntegerType || third.dataType != IntegerType) {
      TypeCheckResult.TypeCheckFailure("bloom_build_native m and k must be INT")
    } else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = false

  override def prettyName: String = "bloom_build_native"

  override def createAggregationBuffer(): BloomBuf = BloomBuf(-1, -1, null)

  override def update(b: BloomBuf, input: InternalRow): BloomBuf = {
    val mAny = second.eval(input)
    val kAny = third.eval(input)
    if (mAny == null || kAny == null) return b
    val m = mAny.asInstanceOf[Int]
    val k = kAny.asInstanceOf[Int]
    if (b.m < 0) {
      b.m = m
      b.k = k
      b.bits = new Array[Byte](BloomFilter.numBytes(m))
    } else {
      require(m == b.m && k == b.k,
        s"bloom_build_native: non-constant geometry within a group: " +
          s"buffer (m=${b.m},k=${b.k}) vs row (m=$m,k=$k)")
    }
    val key = first.eval(input)
    if (key != null) {
      val bytes = key match {
        case s: UTF8String  => s.getBytes
        case a: Array[Byte] => a
      }
      BloomFilter.putBytesInto(b.bits, b.m, b.k, bytes)
    }
    b
  }

  override def merge(a: BloomBuf, b: BloomBuf): BloomBuf = {
    if (a.m < 0) b
    else if (b.m < 0) a
    else {
      require(a.m == b.m && a.k == b.k,
        s"bloom_build_native: merging mismatched buffers (m=${a.m},k=${a.k}) vs (m=${b.m},k=${b.k})")
      BloomFilter.orInto(a.bits, b.bits)
      a
    }
  }

  override def eval(b: BloomBuf): Any =
    if (b.m < 0) Array.emptyByteArray else b.bits

  override def serialize(b: BloomBuf): Array[Byte] = {
    if (b.m < 0) return Array.emptyByteArray
    val out = ByteBuffer.allocate(8 + b.bits.length)
    out.putInt(b.m).putInt(b.k).put(b.bits)
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): BloomBuf = {
    if (bytes.isEmpty) return createAggregationBuffer()
    val in = ByteBuffer.wrap(bytes)
    val m = in.getInt
    val k = in.getInt
    val bits = new Array[Byte](bytes.length - 8)
    in.get(bits)
    BloomBuf(m, k, bits)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): BloomBuildAgg =
    copy(first = f, second = s, third = t)
}
