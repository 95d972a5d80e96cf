package graft.tools

import graft.Config

/** Diagnostic: print the modularity trajectory (whose rows expose the LP
  * fixed-point round directly — frozen trailing rounds repeat the fixed
  * round's integers) for one or more data dirs. SCALING.md's LP-convergence
  * evidence (VERDICT r16 ask #9) comes from this tool.
  *
  * Usage: `runMain graft.tools.RoundProbe <dir> [<dir> ...]`
  */
object RoundProbe {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) Config.usage("usage: runMain graft.tools.RoundProbe <dir> [<dir> ...]")
    val spark = Config.env.session()
    args.foreach { dir =>
      println(s"== modularity trajectory @ $dir ==")
      graft.operators.Graph
        .modularity(graft.operators.Tables(spark, dir, "events"))
        .show(16, false)
      spark.catalog.clearCache()
    }
    graft.CleanExit.teardown(spark)
    graft.CleanExit.halt(0)
  }
}
