package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{BloomFilter, GroupFilters, Murmur3}
import graft.functions.{bloom_build_native, bloom_might_contain, bloom_probe_groups}

/** Kernel microbenchmarks for the traced run: the JVM kernel
  * (`graft.core`) and the Catalyst expressions over it
  * (`graft.functions`), in ns per key or row. The first `n` keys go into
  * one filter of `m` bits and `k` hashes; the next `n` are probed against
  * it, so the keys must be distinct. */
object Micro {
  final case class Input(keys: Array[String], n: Int, m: Int, k: Int, p: Double)
  final case class Filter(filter: BloomFilter, n: Long, falsePositives: Long,
      probes: Long, p: Double)

  /** Median ns per item over repeats of `body`, which handles `items`
    * items; repeats until 0.2 s have gone by, at least 3 times. */
  private def nsPer(items: Int)(body: => Long): Double = {
    var sink = 0L
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (times.size < 3 || System.nanoTime() - t0 < 200000000L) {
      val s = System.nanoTime()
      sink += body
      times += (System.nanoTime() - s).toDouble / items
    }
    if (sink == 42L) System.err.print("") // keeps the results live
    Main.median(times.toSeq)
  }

  /** Rows of the relation the expression benchmarks run over. */
  val rows = 500000

  def run(spark: SparkSession, in: Input, trace: Trace,
      root: Long): (Seq[(String, (Double, String))], Filter) = {
    import spark.implicits._
    val n = math.min(in.n, in.keys.length / 2)
    val insert = in.keys.take(n).map(_.getBytes(StandardCharsets.UTF_8))
    val probe = in.keys.drop(n).take(n).map(_.getBytes(StandardCharsets.UTF_8))
    val bf = BloomFilter.empty(in.m, in.k)
    def record(name: String, ns: Double) =
      trace.record(root, if (name.startsWith("core")) "core" else "functions", name,
        ns * n / 1e9, Map("ns_per_key" -> ns, "keys" -> n.toDouble, "m" -> in.m, "k" -> in.k))

    val murmur = nsPer(n) { var h = 0L; insert.foreach(b => h += Murmur3.hashBytes(b, 0)); h }
    val put = nsPer(n) { insert.foreach(bf.putBytes); bf.m.toLong }
    var falsePositives = 0L
    val probeNs = nsPer(probe.length) {
      falsePositives = probe.count(b => BloomFilter.mightContainBytes(bf.bits, bf.m, bf.k, b))
      falsePositives
    }

    // the same kernels as Catalyst expressions, over a cached relation of
    // `rows` keys: every key with a copy suffix, so that per-job overhead
    // stays a small share of the time
    val copies = math.max(1, (rows + in.keys.length - 1) / in.keys.length)
    val keys = in.keys.toSeq.toDF("key").crossJoin(spark.range(copies).toDF("copy"))
      .select(concat(col("key"), lit("/"), col("copy")).as("movieId"), lit(0).as("rating"))
      .cache()
    val nRows = keys.count().toInt
    val build = nsPer(nRows) {
      keys.agg(bloom_build_native(col("movieId"), lit(in.m), lit(in.k))).collect().length.toLong
    }
    val probeRow = nsPer(nRows) {
      keys.where(bloom_might_contain(lit(bf.bits), lit(in.m), lit(in.k), col("movieId"))).count()
    }
    val groups = spark.sparkContext.broadcast(GroupFilters(Seq((0, bf.m, bf.k, bf.bits))))
    val probeGroups = nsPer(nRows) {
      keys.where(bloom_probe_groups(groups, col("rating"), col("movieId"))).count()
    }
    keys.unpersist(blocking = true)
    groups.destroy()

    val metrics = Seq(
      "core.murmur3_ns_per_key" -> murmur, "core.put_ns_per_key" -> put,
      "core.probe_ns_per_key" -> probeNs, "functions.build_ns_per_row" -> build,
      "functions.probe_ns_per_row" -> probeRow,
      "functions.probe_groups_ns_per_row" -> probeGroups)
    metrics.foreach { case (k, v) => record(k, v) }
    System.err.println(f"[perfbench] microbenchmarks: $n keys into m=${in.m} bits " +
      f"(${in.m / 8e6}%.2f MB), k=${in.k}; expressions over $nRows rows")
    (metrics.map { case (k, v) => k -> (v, "ns") },
      Filter(bf, n, falsePositives, probe.length, in.p))
  }
}
