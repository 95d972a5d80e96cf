package graft

import org.apache.spark.sql.functions._

/** Minimal reproduction of the r8 shutdown failure shape, as a probe main
  * for `CleanExitSpec`: run one RocksDB-backed stateful streaming query
  * (the exact provider whose native teardown SIGSEGV'd the r8 bench JVM at
  * exit), tear down via [[CleanExit.teardown]], print a marker line, and
  * [[CleanExit.halt]]. The spec forks this JVM and asserts rc 0 with the
  * marker as the LAST stdout line — i.e. nothing (crash banner included)
  * can print after the parseable artifact line. */
object ExitProbe {
  def main(args: Array[String]): Unit = {
    val spark = Config.env.session()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val dir = java.nio.file.Files
      .createTempDirectory("graft_exit_probe").toString
    (1L to 200L).map(i => (i % 7, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/src")
    val schema = spark.read.parquet(s"$dir/src").schema
    val n = graft.streaming.StreamingQueries.drainTable("exit_probe",
      spark.readStream.schema(schema).parquet(s"$dir/src")
        .groupBy("k").agg(count(lit(1)).as("n")), "complete").count()

    CleanExit.teardown(spark)
    println(s"PROBE_OK $n")
    CleanExit.halt(0)
  }
}
