package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** `SparkSessionExtensions` hook — the deployment-grade way to ship this
  * engine's SQL surface: any session built with
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (cluster-wide via spark-defaults.conf, or per-session on the builder)
  * resolves every function of [[graft.functions.sqlBuilders]] (`mmh3`,
  * `bloom_might_contain`, `bloom_build_native` and each
  * [[graft.functions.Kernels]] entry) as a regular catalog function — no
  * driver-side `registerAll` call, works from pure-SQL clients
  * (thriftserver, notebooks). [[graft.functions.registerAll]] registers
  * the same list.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.sqlBuilders.foreach { case (name, n, build) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        graft.functions.checkedBuilder(name, n, build)))
    }
    // opt-in runtime bloom pre-filter under big joins
    // (spark.graft.runtimeBloom.enabled=true)
    ext.injectPreCBORule(graft.plans.InjectBloomRuntimeFilter.apply)
  }
}
