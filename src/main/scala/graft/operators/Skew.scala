package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffle joins: key salting.
  *
  * A hot join key sends all its rows to one reducer; AQE's skew-join
  * splitter handles sorted-merge cases, but salting is the explicit,
  * planner-independent fix: the big side spreads each key over
  * `saltFactor` sub-keys, the small side replicates each row
  * `saltFactor`×, and the join runs on (key, salt) — hot keys now occupy
  * `saltFactor` reducers. Result set is provably identical to the plain
  * join (each big row meets each matching small row exactly once — the
  * salted query's oracle is the *unsalted* SQL).
  *
  * The salt is derived from row content (`xxhash64` of salt columns), not
  * `rand()`, so the plan stays deterministic and retry-safe.
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key`, salted `saltFactor` ways. The salt
    * derives from `bigSaltSource` (columns that roughly identify a big
    * row — need not be unique; uniform-ish is enough). */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      saltFactor: Int,
      bigSaltSource: Seq[String]): DataFrame = {
    require(saltFactor > 0, s"saltFactor must be positive, got $saltFactor")
    val salted = big.withColumn("_salt",
      pmod(xxhash64(bigSaltSource.map(col): _*), lit(saltFactor.toLong)).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
