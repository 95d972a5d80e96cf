package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Config

/** Scaling-evidence data generator (SCALING.md's third point).
  *
  * The driver ships sf0.001/sf0.01/sf0.1; separating linear-by-design
  * queries from quietly super-linear ones needs one more decade-ish step,
  * so this tool synthesizes an `sf0.1 × factor` dataset by replicating
  * each table with replica-offset keys — the same growth shape a real
  * corpus has (key domains widen, per-group densities grow, dimension
  * tables stay put):
  *
  *  - fact/entity tables (`lineitem orders customer supplier part events
  *    documents embeddings`) are unioned `factor` times with every key
  *    column offset by `replica * (max(key)+1)`, so foreign keys stay
  *    consistent within a replica and keys stay globally unique;
  *  - `documents.text` is character-translated per replica (a fixed
  *    rotation over the common-letter alphabet) — lengths are preserved
  *    (so the length-band densities that drive `dedup_editdist`'s
  *    candidate-pair count grow exactly as real growth would) while
  *    cross-replica texts are dissimilar (real growth does not add
  *    exact copies, and dist-0 cross-replica pairs would inflate the
  *    OUTPUT quadratically rather than the work);
  *  - `nation`/`region` are fixed-domain dimensions (TPC-H scales them
  *    as constants) and are copied once.
  *
  * This is bench-only tooling: the correctness gate always runs on the
  * driver's own parquet, never on generated data.
  *
  * Usage: `runMain graft.tools.ScaleData <srcDir> <dstDir> <factor>`
  */
object ScaleData {

  /** Per-table key columns to offset per replica. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Key DOMAIN per column: every column sharing a domain (a PK and the
    * FKs referencing it) must shift by the SAME offset, derived from the
    * domain-owning table's PK — offsetting each column by its own
    * per-table max would mis-join replicas whenever some PK values are
    * unreferenced (real TPC-H: 1/3 of customers have no orders). The
    * offset basis is `(ownerTable, pkColumn)`. */
  private val colDomain: Map[String, (String, String)] = Map(
    "l_orderkey" -> (("orders", "o_orderkey")),
    "l_partkey" -> (("part", "p_partkey")),
    "l_suppkey" -> (("supplier", "s_suppkey")),
    "o_orderkey" -> (("orders", "o_orderkey")),
    "o_custkey" -> (("customer", "c_custkey")),
    "c_custkey" -> (("customer", "c_custkey")),
    "s_suppkey" -> (("supplier", "s_suppkey")),
    "p_partkey" -> (("part", "p_partkey")),
    "event_id" -> (("events", "event_id")),
    "user_id" -> (("events", "user_id")),
    "doc_id" -> (("documents", "doc_id")),
    "vec_id" -> (("embeddings", "vec_id")))

  private val dims = Seq("nation", "region")

  /** Per-replica text transform: replica 0 is the original corpus;
    * replica i>0 composes TWO independent alphabet rotations — the 12
    * most frequent English letters rotated by `i mod 12`, then a second
    * disjoint 12-letter alphabet rotated by `(i div 12) mod 12` — giving
    * 144 DISTINCT length-preserving transforms. Length-preserving,
    * deterministic, and strongly divergent from the original (every
    * occurrence of a common letter changes), which is all the bench
    * needs.
    *
    * Why two alphabets (r15 fix): the single-rotation form wrapped at
    * 12, so any factor > 12 planted EXACT cross-replica text copies
    * (replicas i and i+12 identical except keys) — measured at factor
    * 50: 190,096 of 250,000 documents were exact-text duplicates,
    * which made every text-similarity lane's OUTPUT (true dup-clique
    * pairs, 100% dup-gram spans) grow quadratically in the replica
    * count. That is precisely the distortion this rotation exists to
    * prevent (the r10 p_name and r11 embedding lessons — both of which
    * also inherited the wrap through this function), and it confounded
    * the r14 sf5 cluster-face campaign's candidate-volume reading. */
  private val rotAlpha1 = "etaoinshrdlu"
  private val rotAlpha2 = "cmfwypbgkjxz" // disjoint from rotAlpha1
  val maxRotationFactor: Int = rotAlpha1.length * rotAlpha2.length // 144

  private def rotateText(c: org.apache.spark.sql.Column, i: Int) = {
    def rot(col: org.apache.spark.sql.Column, alpha: String, k: Int) =
      if (k == 0) col
      else translate(col, alpha, alpha.substring(k) + alpha.substring(0, k))
    rot(rot(c, rotAlpha1, i % rotAlpha1.length),
      rotAlpha2, (i / rotAlpha1.length) % rotAlpha2.length)
  }

  def replicate(df: DataFrame, table: String, factor: Int,
      domainOffset: String => Long): DataFrame = {
    val keys = keyCols.getOrElse(table, Seq.empty)
    if (keys.isEmpty || factor <= 1) return df
    // FK-consistency guard (loud, at generation time): a FK whose max
    // exceeds its domain offset basis would collide into replica i+1's
    // key range; a FK value above the PK max means a dangling reference
    // the domain offset was not derived from.
    val row = df.agg(keys.map(k => max(col(k)).as(k)).head,
      keys.map(k => max(col(k)).as(k)).tail: _*).head()
    keys.foreach { k =>
      val fkMax = row.getAs[Number](k).longValue()
      require(fkMax < domainOffset(k),
        s"$table.$k max $fkMax >= domain offset ${domainOffset(k)} — " +
          "dangling FK values would mis-join across replicas")
    }
    (0 until factor).map { i =>
      val shifted = keys.foldLeft(df) { (d, k) =>
        d.withColumn(k,
          (col(k) + lit(i.toLong * domainOffset(k))).cast(df.schema(k).dataType))
      }
      // similarity-bearing columns rotate per replica for the SAME reason
      // in every table: real growth does not add exact copies, and an
      // unrotated column makes every fuzzy/similarity lane's OUTPUT (not
      // just its work) grow quadratically in the replica count — p_name
      // was missed until r10 and distorted dedup_fuzzy_names' scaling
      // rows; `embedding` was missed until r11 and distorted
      // dedup_semantic's (10 exact copies of every vector ⇒ quadratic
      // cosine-1.0 duplicate pairs). The embedding rotation is a CYCLIC
      // ELEMENT SHIFT — norm-preserving and deterministic, and shifted
      // random vectors are near-orthogonal to their originals, which is
      // the growth shape a real corpus has.
      if (table == "documents" || table == "part") {
        // loud generation-time guard (the FK-guard convention): past the
        // transform domain the generator would plant exact cross-replica
        // copies again
        require(factor <= maxRotationFactor,
          s"factor $factor exceeds the $maxRotationFactor distinct " +
            "text transforms — exact cross-replica copies would distort " +
            "every similarity lane's output")
        if (table == "documents")
          shifted.withColumn("text", rotateText(col("text"), i))
        else shifted.withColumn("p_name", rotateText(col("p_name"), i))
      }
      else if (table == "embeddings" && i > 0) {
        // shift derived from the ACTUAL array size, and never zero:
        // 1 + (i-1) mod (dim-1) ∈ [1, dim-1], so no replica (at any
        // factor, for any embedding dimension) is an exact copy — the
        // hardcoded `i % 64` form was the identity at i ≡ 0 (mod 64)
        // and wrong for non-64-dim tables (ADVICE r11 #2)
        val dim = size(col("embedding"))
        val shift = lit(1) + pmod(lit(i - 1), dim - lit(1))
        shifted.withColumn("embedding",
          concat(
            slice(col("embedding"), shift + 1, dim - shift),
            slice(col("embedding"), lit(1), shift)))
      } else shifted
    }.reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    val (src, dst, factor) = args match {
      case Array(s, d, f) if f.toIntOption.exists(_ > 0) => (s, d, f.toInt)
      case _ => Config.usage(
        "usage: runMain graft.tools.ScaleData <srcDir> <dstDir> <factor, an int >= 1>")
    }
    val spark = Config.env.session()
    val tables = keyCols.keys.toSeq ++ dims
    // domain offsets: one tiny max() job per domain-owning PK — shared by
    // every column in the domain so FK joins stay consistent per replica
    val domainOffsets: Map[(String, String), Long] =
      colDomain.values.toSet.map { owner: (String, String) =>
        val (tbl, pk) = owner
        val m = spark.read.parquet(s"$src/$tbl.parquet")
          .agg(max(col(pk))).head().getAs[Number](0).longValue()
        owner -> (m + 1L)
      }.toMap
    for (t <- tables) {
      val in = spark.read.parquet(s"$src/$t.parquet")
      val out = replicate(in, t, factor, k => domainOffsets(colDomain(k)))
      // file sizing tracks the growth: factor × the source's file count,
      // floor 1 — so maxPartitionBytes-driven split behavior at read time
      // scales the way a real bigger table's would
      val nFiles = math.max(1, in.inputFiles.length * (if (dims.contains(t)) 1 else factor))
      out.repartition(nFiles).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"$t: ${out.columns.length} cols -> $dst/$t.parquet ($nFiles files)")
    }
    spark.stop()
  }
}
