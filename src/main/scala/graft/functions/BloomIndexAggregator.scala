package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.core.BloomFilter

/** Mutable aggregation buffer. `m < 0` marks the zero buffer (geometry not
  * yet known); the bit array is allocated lazily from the first row. */
case class BloomBuf(var m: Int, var k: Int, var bits: Array[Byte])

/** One pre-hashed bit index plus the group geometry (reference-shaped
  * build input: the explicit index column of `bloomfilters_builder.py:44-54`
  * exploded to one row per index). */
case class BloomIndexInput(idx: Int, m: Int, k: Int)

/** Reference-shaped Bloom build (SURVEY.md §7.2.5b): consumes *explicit*
  * hash indexes — `explode(transform(sequence(0, k-1), i ->
  * pmod(mmh3(key, i), m)))` — and ORs each bit into the buffer. This is
  * the unfused P2→A2→A3 pipeline of the reference Spark engine
  * (`bloomfilters_builder.py:87-100`), kept for explainability and as a
  * cross-formulation invariant: its output must be byte-identical to
  * [[BloomBuildAgg]]'s (`bloom_build_native`; asserted by the
  * `a2_indexed_equiv` query and PipelineSpec). The fused path is the production one — this shape
  * shuffles O(k) ints per input row pre-combine instead of fixed-size
  * buffers.
  */
object BloomIndexAggregator extends Aggregator[BloomIndexInput, BloomBuf, Array[Byte]] {

  override def zero: BloomBuf = BloomBuf(-1, -1, null)

  override def reduce(b: BloomBuf, in: BloomIndexInput): BloomBuf = {
    if (b.m < 0) {
      b.m = in.m
      b.k = in.k
      b.bits = new Array[Byte](BloomFilter.numBytes(in.m))
    } else {
      require(in.m == b.m && in.k == b.k,
        s"bloom_build_indexed: non-constant geometry within a group: " +
          s"buffer (m=${b.m},k=${b.k}) vs row (m=${in.m},k=${in.k})")
    }
    require(in.idx >= 0 && in.idx < b.m,
      s"bloom_build_indexed: index ${in.idx} out of range [0, ${b.m})")
    b.bits(in.idx >>> 3) = (b.bits(in.idx >>> 3) | (1 << (in.idx & 7))).toByte
    b
  }

  override def merge(a: BloomBuf, b: BloomBuf): BloomBuf = {
    if (a.m < 0) b
    else if (b.m < 0) a
    else {
      // partitions of one group must agree on geometry: orInto loops over
      // a.bits, so a wider b would lose its tail bits (false negatives)
      require(a.m == b.m && a.k == b.k,
        s"bloom_build_indexed: merging mismatched buffers (m=${a.m},k=${a.k}) vs (m=${b.m},k=${b.k})")
      BloomFilter.orInto(a.bits, b.bits)
      a
    }
  }

  override def finish(b: BloomBuf): Array[Byte] =
    if (b.m < 0) Array.emptyByteArray else b.bits

  override def bufferEncoder: Encoder[BloomBuf] = Encoders.product[BloomBuf]

  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
