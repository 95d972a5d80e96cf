package graft.lanes

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query, declared once: its name, its DuckDB oracle SQL
  * (`None`: the driver checks rows only, and a spec covers the values) and
  * its body over `(session, input dir)`. The oracle is by-name, so building
  * the registry builds no oracle string. */
final class Lane private (val name: String, sql: => Option[String],
    val run: (SparkSession, String) => DataFrame) {
  def oracle: Option[String] = sql
}

object Lane {
  def apply(name: String, oracle: => Option[String])(
      run: (SparkSession, String) => DataFrame): Lane = new Lane(name, oracle, run)
}

/** The lanes of one family, declared in one file; `key` names the family. */
abstract class LaneFamily(val key: String) {
  def lanes: Seq[Lane]
}

object LaneFamily {
  /** Every lane of `families`, in order. Throws, naming the lane and its
    * families, when one name is declared twice. */
  def registry(families: Seq[LaneFamily]): Seq[Lane] = {
    val declared = for (f <- families; l <- f.lanes) yield (f.key, l)
    declared.groupBy(_._2.name).foreach { case (name, ds) =>
      if (ds.size > 1) throw new IllegalStateException(
        s"lane $name is declared ${ds.size} times, in families ${ds.map(_._1).mkString(", ")}")
    }
    declared.map(_._2)
  }
}
