package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all Spark-backed suites (one JVM-wide session;
  * creating one per suite is slow and leaks). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_test_warehouse")
      // the SQL surface arrives via extension injection, so every SQL-path
      // test below exercises GraftExtensions end to end
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark

  /** `body`'s result and the Spark jobs it fired, counted with
    * [[QueryLedger]] as `Bench` counts a query's. */
  def jobsOf[T](body: => T): (T, Int) = {
    val ledger = new QueryLedger(spark.sparkContext)
    try {
      ledger.open()
      val res = body
      // a loaded host can hold job-end events past the ledger's own wait
      org.apache.spark.GraftBus.drain(spark.sparkContext, 60000L)
      val rec = ledger.close(0.0)
      assert(rec.complete, "the listener bus did not drain")
      (res, rec.jobs)
    } finally spark.sparkContext.removeSparkListener(ledger)
  }
}
