package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed always gives the same files. */
object Gen {

  /** What the ratings generator wrote: the counts the output checks use. */
  final case class Ratings(dir: String, cleanRows: Long, malformedRows: Long,
      keys: Array[String])

  /** Malformed lines per file. Each one lacks a parseable `averageRating`
    * or a `movieId`, so ingest drops exactly this many rows. */
  val malformedRows = 40

  /** An IMDb `title.ratings`-shaped TSV: header, `tt`-style ids,
    * one-decimal ratings from N(6.9, 1.3) clipped to [1, 10], a vote count.
    * One rating in 200 is drawn uniformly from [1, 10] instead, so the
    * rare low ratings still form groups of a few hundred rows; the
    * real file has such a tail too. */
  def ratings(dir: String, rows: Int, seed: Long): Ratings = {
    val rnd = new java.util.SplittableRandom(seed)
    new File(dir).mkdirs()
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(s"$dir/title.ratings.tsv"), StandardCharsets.UTF_8), 1 << 16)
    val keys = new Array[String](rows)
    val badEvery = rows / malformedRows
    var id = 0L
    try {
      out.write("tconst\taverageRating\tnumVotes\n")
      var i = 0
      while (i < rows) {
        id += 1 + rnd.nextInt(3)
        val key = f"tt$id%07d"
        val x =
          if (rnd.nextInt(200) == 0) 1.0 + 9.0 * rnd.nextDouble()
          else 6.9 + 1.3 * gaussian(rnd)
        val tenths = math.round(math.min(10.0, math.max(1.0, x)) * 10).toInt
        val votes = 5 + math.exp(4.5 + 1.8 * gaussian(rnd)).toInt
        keys(i) = key
        out.write(s"$key\t${tenths / 10}.${tenths % 10}\t$votes\n")
        if (i % badEvery == badEvery / 2 && i / badEvery < malformedRows)
          out.write((i / badEvery) % 3 match {
            case 0 => s"tt${id}x\tn/a\t$votes\n"
            case 1 => s"\t${tenths / 10}.${tenths % 10}\t$votes\n"
            case _ => s"tt${id}y\n"
          })
        i += 1
      }
    } finally out.close()
    Ratings(dir, rows.toLong, malformedRows.toLong, keys)
  }

  private def gaussian(rnd: java.util.SplittableRandom): Double = {
    val u = 1.0 - rnd.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  // --- the tables the query lanes read: the columns and value ranges of
  // the repository's test tables, sized by `sf` (sf = 0.1 gives 600,000
  // lineitem rows) ---

  private val partWords = Seq(
    Seq("blue", "old", "large", "hot", "cold", "small", "new", "red"),
    Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"))

  /** Writes `events`, `lineitem` and `part` to `dir/<name>.parquet`.
    * Every random draw is a hash of (seed, salt, row key), so the output
    * does not depend on how Spark partitions the work. */
  def tables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    def u(salt: Int, key: Column): Column = // uniform in [0, 1)
      pmod(xxhash64(lit(seed), lit(salt), key), lit(1L << 40)) / (1L << 40).toDouble
    def pick(salt: Int, key: Column, n: Long): Column = floor(u(salt, key) * n).cast("long")
    def oneOf(salt: Int, key: Column, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pick(salt, key, xs.size) + 1).cast("int"))
    def write(name: String, rows: Long)(cols: Column*): Unit =
      spark.range(0, rows, 1, 4).select(cols: _*)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")

    val nPart = n(200000)
    write("part", nPart)(id.as("p_partkey"),
      concat_ws(" ", oneOf(6, id, partWords(0)), oneOf(7, id, partWords(1))).as("p_name"),
      concat(lit("Brand#"), pick(8, id, 25) + 1).as("p_brand"),
      oneOf(9, id, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (pick(10, id, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 1).as("p_retailprice"))
    write("lineitem", n(6000000))(pick(16, id, n(1500000)).as("l_orderkey"),
      pick(17, id, nPart).as("l_partkey"), pick(18, id, n(10000)).as("l_suppkey"),
      (pick(19, id, 7) + 1).cast("int").as("l_linenumber"),
      (pick(20, id, 50) + 1).cast("double").as("l_quantity"),
      round(u(21, id) * 104099 + 900, 2).as("l_extendedprice"),
      (pick(22, id, 11) / 100.0).as("l_discount"),
      (pick(23, id, 9) / 100.0).as("l_tax"),
      oneOf(24, id, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(25, id, Seq("O", "F")).as("l_linestatus"),
      to_timestamp_ntz(date_add(lit("1995-01-02").cast("date"),
        pick(26, id, 2498).cast("int"))).as("l_shipdate"))
    // events arrive in id order over 30 days, from n(15000) users
    val nEvents = n(1000000)
    write("events", nEvents)(id.as("event_id"),
      to_timestamp_ntz(timestamp_micros(lit(1704067200000000L) +
        ((id + u(27, id)) * (30L * 86400 * 1000000 / nEvents)).cast("long"))).as("ts"),
      pick(28, id, n(15000)).as("user_id"),
      oneOf(29, id, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(-log(lit(1.0) - u(30, id)) * 50, 2).as("value"),
      format_string("{\"k\": %d}", pick(31, id, 100)).as("props"))
  }
}
