package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.BloomFilter
import graft.operators.{BloomPipeline, FilterStore, Ingest, Ratings}

object Pass {
  /** One operation of a pass: a pipeline run or one query. `signature`
    * must be the same on every pass; `error` is a failed check. */
  final case class Op(name: String, signature: String, error: Option[String])

  /** Timed wall and process CPU seconds of a pass (hygiene excluded). */
  final case class Result(wall: Double, cpu: Double, ops: Seq[Op], dir: String)

  /** Times `body` on the wall clock and in process CPU seconds. */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = Main.cpuSeconds
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, Main.cpuSeconds - c0)
  }
}

/** Counts operations and failed ones; an operation fails when it throws,
  * when a check on its output fails, or when its output differs from the
  * first pass's. */
final class Checks {
  var attempted = 0
  var failed = 0
  private val reference = mutable.Map.empty[String, String]

  def pass(w: Workload, r: Pass.Result): Unit = r.ops.foreach { op =>
    attempted += 1
    val ref = reference.getOrElseUpdate(op.name, op.signature)
    val error = op.error.orElse(
      if (ref == op.signature) None else Some("output differs from the first pass"))
    error.foreach { e =>
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED ${w.name}/${op.name}: $e")
    }
  }

  def report(): Unit =
    System.err.println(s"[perfbench] checks: $attempted operations, $failed failed")
}

/** A named workload: set-up, one pass, and the inputs of its traced-run
  * extras. */
trait Workload {
  def name: String
  /** Untimed passes between the cold pass and the timed ones. The JIT
    * is still compiling the workload's code for several passes after the
    * cold one; timing starts once the pass time has mostly settled. */
  def warmups: Int
  def setup(spark: SparkSession, dir: String, seed: Long): Unit
  def pass(spark: SparkSession, dir: String, trace: Option[(Trace, Long)]): Pass.Result
  /** Keys and filter geometry for the kernel microbenchmarks. */
  def microInput(spark: SparkSession, last: Pass.Result): Micro.Input
  /** Filter facts: the workload's own artifact, or the microbenchmark's
    * filter when the workload leaves no artifact the benchmark can read. */
  def bloomFacts(spark: SparkSession, last: Pass.Result, micro: Micro.Filter): Seq[(String, (Double, String))]
}

object Workloads {
  val byName: Map[String, Workload] = Seq(
    new PaperPipeline(rows = 400000, p = 0.01),
    new Queries("query_lanes", sf = 0.01, names = Seq("gr3_pagerank", "x2_runtime_bloom")),
  ).map(w => w.name -> w).toMap

  /** Runs a step inside a span when tracing, plain otherwise. */
  def step[T](trace: Option[(Trace, Long)], layer: String, name: String)(body: => T): T =
    trace match {
      case Some((t, parent)) => t.span(parent, layer, name)(_ => body)
      case None => body
    }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()
}

/** The paper's lifecycle, `graft.ReferencePipeline.run`: split, linecount,
  * per-rating filter build, and the false-positive test, on a generated
  * IMDb-shaped ratings file. */
final class PaperPipeline(rows: Int, p: Double) extends Workload {
  val name = "paper_pipeline"
  // its first warm pass is already close to the later ones, and a run
  // takes about a minute without one
  val warmups = 0
  private var input: Gen.Ratings = _
  private var trainSample: Seq[(String, Int)] = Nil

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    input = Gen.ratings(dir, rows, seed)
    trainSample = Nil
  }

  private def tsv = input.dir

  def pass(spark: SparkSession, dir: String, trace: Option[(Trace, Long)]): Pass.Result = {
    // the scan-only parse is not part of the pipeline: it runs first,
    // outside the timed region and outside the pass's span, so traced and
    // untraced passes compare
    trace.foreach { case (t, _) =>
      Workloads.step(Some((t, 0L)), "step", "ingest.parse") {
        Ingest.readRatingsTsvObserved(spark, tsv, new Observation(s"parse_$dir"))
          .write.format("noop").mode("overwrite").save()
      }
    }
    val (out, wall, cpu) = Pass.timed {
      try Right(trace match {
        case None => graft.ReferencePipeline.run(spark, tsv, p, dir)
        case Some(t) => recomposed(spark, dir, t)
      })
      catch { case e: Exception => Left(e) }
    }
    val op = out match {
      case Left(e) => Pass.Op("reference_pipeline", "", Some(s"threw $e"))
      case Right(lines) =>
        Pass.Op("reference_pipeline", lines.mkString("\n"), check(spark, lines, dir))
    }
    Pass.Result(wall, cpu, Seq(op), dir)
  }

  /** `ReferencePipeline.run` recomposed from the same public calls, one
    * span per stage. */
  private def recomposed(spark: SparkSession, dir: String,
      t: (Trace, Long)): Seq[String] = {
    val trace = Some(t)
    val obs = new Observation(s"ingest_$dir")
    val Array(train, test) =
      Ratings.randomSplit(Ingest.readRatingsTsvObserved(spark, tsv, obs), seed = 42L)
    Workloads.step(trace, "step", "ref.linecount") {
      BloomPipeline.linecount(train)
        .select(format_string("%d\t%d", col("rating"), col("n")).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$dir/linecount")
    }
    Workloads.step(trace, "step", "ref.build") {
      FilterStore.save(BloomPipeline.buildFilters(train, p), s"$dir/filters")
    }
    val stats = Workloads.step(trace, "step", "ref.probe") {
      BloomPipeline.fpStats(test, FilterStore.load(spark, s"$dir/filters"))
        .orderBy("rating").collect()
    }
    Workloads.step(trace, "step", "ref.report") {
      BloomPipeline.fpStats(test, FilterStore.load(spark, s"$dir/filters"))
        .select(format_string("%d\t%d\t%d\t%.8f", col("rating"), col("falsePositives"),
          col("total"), col("fpRate")).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$dir/results")
    }
    Seq(f"ingested=${obs.get("total_rows")} corrupt_dropped=${obs.get("corrupt_rows")} p=$p%.4f",
      "rating\tfalsePositives\ttotal\tfpRate") ++ stats.map { r =>
      f"${r.getInt(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t${r.getDouble(3)}%.8f"
    }
  }

  private def filters(spark: SparkSession, dir: String): Seq[PaperPipeline.Filter] =
    FilterStore.load(spark, s"$dir/filters").collect().toSeq.map { r =>
      PaperPipeline.Filter(r.getAs[Int]("rating"), r.getAs[Long]("n"), r.getAs[Int]("m"),
        r.getAs[Int]("k"), r.getAs[Array[Byte]]("bits"))
    }

  /** Checks one pass's report and artifacts; returns the first failure. */
  private def check(spark: SparkSession, lines: Seq[String], dir: String): Option[String] = {
    val header = s"ingested=${input.cleanRows + input.malformedRows} " +
      f"corrupt_dropped=${input.malformedRows} p=$p%.4f"
    if (lines.head != header) return Some(s"report header '${lines.head}', expected '$header'")
    val results = lines.drop(2).map(_.split("\t")).map(f => (f(0).toInt, f(1).toLong, f(2).toLong))
    val counts = spark.read.text(s"$dir/linecount").collect().map(_.getString(0).split("\t"))
      .map(f => f(0).toInt -> f(1).toLong).toMap
    val tested = results.map(_._3).sum
    if (counts.values.sum + tested != input.cleanRows)
      return Some(s"linecount ${counts.values.sum} + tested $tested != clean rows ${input.cleanRows}")
    val fs = filters(spark, dir)
    for (f <- fs) {
      if (counts.get(f.rating).forall(_ != f.n))
        return Some(s"filter ${f.rating}: n=${f.n}, linecount says ${counts.get(f.rating)}")
      if (f.m != BloomFilter.numBits(f.n, p) || f.k != BloomFilter.numHashes(p) ||
          f.bits.length != BloomFilter.numBytes(f.m))
        return Some(s"filter ${f.rating}: m=${f.m} k=${f.k} do not match n=${f.n} at p=$p")
    }
    if (trainSample.isEmpty) trainSample = {
      val train = Ratings.randomSplit(Ingest.readRatingsTsv(spark, tsv), seed = 42L)(0)
      train.where(pmod(hash(col("movieId")), lit(100)) === 0).collect()
        .map(r => (r.getString(0), r.getInt(1))).toSeq
    }
    val byRating = fs.map(f => f.rating -> BloomFilter.fromBytes(f.m, f.k, f.bits)).toMap
    val missed = trainSample.count { case (key, r) => !byRating.get(r).exists(_.mightContain(key)) }
    if (missed > 0) return Some(s"$missed of ${trainSample.size} sampled train keys are false negatives")
    // each rating's false positives against the filter's own expected rate
    val geometry = fs.map(f => f.rating -> f).toMap
    for ((rating, fp, total) <- results) {
      val f = geometry(rating)
      val q = math.pow(1 - math.exp(-f.k * f.n.toDouble / f.m), f.k)
      val slack = 5 * math.sqrt(total * q * (1 - q)) + 3
      if (math.abs(fp - total * q) > slack)
        return Some(f"rating $rating: $fp false positives of $total, expected ${total * q}%.1f ± $slack%.1f")
    }
    None
  }

  def microInput(spark: SparkSession, last: Pass.Result): Micro.Input = {
    val biggest = filters(spark, last.dir).maxBy(_.m)
    Micro.Input(input.keys, biggest.n.toInt, biggest.m, biggest.k, p)
  }

  def bloomFacts(spark: SparkSession, last: Pass.Result,
      micro: Micro.Filter): Seq[(String, (Double, String))] = {
    val fs = filters(spark, last.dir)
    val results = last.ops.head.signature.split("\n").drop(2).map(_.split("\t"))
      .map(f => (f(0).toInt, f(1).toLong, f(2).toLong))
    val bits = fs.map(f => BloomFilter.fromBytes(f.m, f.k, f.bits).setBitCount.toLong).sum
    Seq(
      "bloom.fill_ratio" -> (bits.toDouble / fs.map(_.m.toLong).sum, "ratio"),
      "bloom.fpp_ratio" -> (results.map(_._2).sum.toDouble / results.map(_._3).sum / p, "ratio"),
      "bloom.fpp_ratio_max" -> (results.filter(_._3 >= 1000)
        .map { case (_, fp, t) => fp.toDouble / t / p }.max, "ratio"),
      "filterstore.artifact_mb" ->
        (Workloads.dirBytes(new File(s"${last.dir}/filters")) / (1024.0 * 1024.0), "MB"))
  }
}

object PaperPipeline {
  /** One row of the saved filter artifact. */
  final case class Filter(rating: Int, n: Long, m: Int, k: Int, bits: Array[Byte])
}

/** A set of registered `graft.SparkEntry` queries on generated tables. */
final class Queries(val name: String, sf: Double, names: Seq[String]) extends Workload {
  // the lanes keep generating new classes, and their first two warm
  // passes run 10-40% slower than the ones after
  val warmups = 2
  private var dir: String = _

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    this.dir = dir
    Gen.tables(spark, dir, sf, seed)
  }

  def pass(spark: SparkSession, passDir: String, trace: Option[(Trace, Long)]): Pass.Result = {
    val timings = names.map { q =>
      Main.hygiene(spark)
      val (out, wall, cpu) = Pass.timed {
        Workloads.step(trace, "step", s"query.$q") {
          try Right(graft.SparkEntry.queries(q)(spark, dir).collect())
          catch { case e: Exception => Left(e) }
        }
      }
      val op = out match {
        case Left(e) => Pass.Op(q, "", Some(s"threw $e"))
        case Right(rows) => Pass.Op(q, s"${rows.length} rows, digest ${Queries.digest(rows)}", None)
      }
      System.err.println(f"[perfbench]   $q%-24s $wall%7.3f s, cpu $cpu%7.3f s")
      (op, wall, cpu)
    }
    Pass.Result(timings.map(_._2).sum, timings.map(_._3).sum, timings.map(_._1), passDir)
  }

  def microInput(spark: SparkSession, last: Pass.Result): Micro.Input = {
    val keys = Ratings.fromLineitem(spark, dir).select("movieId").distinct().orderBy("movieId")
      .collect().map(_.getString(0))
    val n = keys.length / 2
    Micro.Input(keys, n, BloomFilter.numBits(n, graft.SparkEntry.defaultP),
      BloomFilter.numHashes(graft.SparkEntry.defaultP), graft.SparkEntry.defaultP)
  }

  def bloomFacts(spark: SparkSession, last: Pass.Result,
      micro: Micro.Filter): Seq[(String, (Double, String))] = {
    import spark.implicits._
    val path = s"${last.dir}/micro-filter"
    FilterStore.save(Seq((0, micro.n, micro.filter.m, micro.filter.k, micro.filter.bits))
      .toDF("rating", "n", "m", "k", "bits"), path)
    val fpp = micro.falsePositives.toDouble / micro.probes / micro.p
    Seq(
      "bloom.fill_ratio" -> (micro.filter.setBitCount.toDouble / micro.filter.m, "ratio"),
      "bloom.fpp_ratio" -> (fpp, "ratio"),
      "bloom.fpp_ratio_max" -> (fpp, "ratio"),
      "filterstore.artifact_mb" -> (Workloads.dirBytes(new File(path)) / (1024.0 * 1024.0), "MB"))
  }
}

object Queries {
  /** Order-insensitive digest of a result: the sum of per-row hashes.
    * Floating-point values are rounded to 9 significant digits first, so
    * a changed summation order in Spark does not count as a new output. */
  def digest(rows: Array[Row]): String = {
    def norm(v: Any): String = v match {
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.6g"
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }
        .sorted.mkString("{", ",", "}")
      case b: Array[Byte] => java.util.Arrays.toString(b)
      case other => String.valueOf(other)
    }
    val sum = rows.foldLeft(0L)((acc, r) => acc + scala.util.hashing.MurmurHash3.stringHash(norm(r)))
    java.lang.Long.toHexString(sum)
  }
}
