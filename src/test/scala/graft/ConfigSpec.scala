package graft

import org.scalatest.funsuite.AnyFunSuite

/** The typed configuration surface: every environment knob is checked,
  * a garbled value fails naming the knob, and unset knobs take their
  * documented defaults. Driven through the pure [[Config.parse]], so no
  * JVM is forked and no session starts. */
class ConfigSpec extends AnyFunSuite {

  private def rejects(knob: String, value: String): Unit = {
    val e = intercept[IllegalArgumentException](Config.parse(Map(knob -> value)))
    assert(e.getMessage.contains(knob), s"$knob=$value: ${e.getMessage}")
  }

  test("every knob rejects a garbled value, naming the knob") {
    Seq("0", "-1", "x", "").foreach(rejects("SPARK_GRAFT_CPUS", _))
    Seq("0", "x", "1.5").foreach(rejects("SPARK_GRAFT_DRAWS", _))
    Seq("-1", "0", "x").foreach(rejects("SPARK_GRAFT_BENCH_BUDGET_SEC", _))
    rejects("SPARK_GRAFT_SF_DIR", "/nonexistent/graft_sf_dir")
  }

  test("absent knobs take their documented defaults") {
    assert(Config.parse(Map.empty) === Config(
      cpus = Runtime.getRuntime.availableProcessors,
      sfDir = "/root/testdata/sf0.1", draws = 3, budgetSec = 1800.0))
  }

  test("well-formed knobs parse") {
    val dir = java.nio.file.Files.createTempDirectory("graft_config_spec").toString
    val cfg = Config.parse(Map(
      "SPARK_GRAFT_CPUS" -> " 7 ", "SPARK_GRAFT_SF_DIR" -> dir,
      "SPARK_GRAFT_DRAWS" -> "1", "SPARK_GRAFT_BENCH_BUDGET_SEC" -> "0.5"))
    assert(cfg === Config(7, dir, 1, 0.5))
  }

  test("unknownKnobs names every SPARK_GRAFT_ variable that is not a knob") {
    assert(Config.unknownKnobs(Map("SPARK_GRAFT_TRACE" -> "all",
      "SPARK_GRAFT_ROUND_ROWS_PER_PART" -> "8", "SPARK_GRAFT_CPUS" -> "2")) ===
      Seq("SPARK_GRAFT_ROUND_ROWS_PER_PART", "SPARK_GRAFT_TRACE"))
    assert(Config.unknownKnobs(Config.Knobs.map(_ -> "1").toMap ++
      Map("SPARK_DRIVER_MEM" -> "4g", "PATH" -> "/bin")).isEmpty)
  }

  test("queryNames keeps order, drops repeats, and lists every unknown name") {
    assert(Config.queryNames("names", "x2_runtime_bloom, gr3_pagerank,x2_runtime_bloom") ===
      Seq("x2_runtime_bloom", "gr3_pagerank"))
    val e = intercept[IllegalArgumentException](
      Config.queryNames("Bench query names", "gr3_pagerank,nosuch_a,nosuch_b"))
    assert(e.getMessage.contains("Bench query names"))
    assert(e.getMessage.contains("nosuch_a, nosuch_b"))
    assert(intercept[IllegalArgumentException](Config.queryNames("names", " , "))
      .getMessage.contains("no query"))
  }

  test("the session conf map is Bench's conf set, key for key") {
    val tmp = sys.props("java.io.tmpdir")
    assert(Config(3, "", 1, 1.0).sessionConfs.toMap === Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.ui.retainedExecutions" -> "5",
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "1h",
      "spark.ui.retainedJobs" -> "50",
      "spark.ui.retainedStages" -> "50",
      "spark.ui.retainedTasks" -> "500",
      "spark.sql.warehouse.dir" -> s"$tmp/graft_warehouse"))
  }
}
