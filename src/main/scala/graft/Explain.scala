package graft

/** Plan diagnostics: print the formatted physical plan of registered
  * queries. To time chosen queries, run `graft.Bench <names>`.
  *
  * Usage: `runMain graft.Explain <sfDir> [name ...]` (no names → all
  * queries; names may also be comma-separated; an unknown name fails).
  */
object Explain {
  private val usage = "usage: runMain graft.Explain <sfDir> [name ...]"

  def main(args: Array[String]): Unit = {
    val (sfDir, names) = args.toSeq match {
      case Seq(sf) => (sf, SparkEntry.queries.keys.toSeq)
      case Seq(sf, names @ _*) =>
        (sf, Config.queryNames("Explain query names", names.mkString(",")))
      case _ => Config.usage(usage)
    }
    val spark = Config.env.session()
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
