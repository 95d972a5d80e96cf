package graft

import org.apache.spark.sql.SparkSession

/** The environment knobs, read once and checked, and the one local session
  * every main runs on.
  *
  * Five knobs remain. A garbled value fails before any session starts,
  * with a message naming the knob; an unset knob takes its default:
  *  - `SPARK_GRAFT_CPUS`: a positive int, the local cores and the shuffle
  *    width. Default: the host's available processors.
  *  - `SPARK_GRAFT_SF_DIR`: an existing directory, the data `Bench`
  *    measures. Default: `/root/testdata/sf0.1`.
  *  - `SPARK_GRAFT_DRAWS`: an int ≥ 1, `Bench`'s planned draws. Default: 3.
  *  - `SPARK_GRAFT_BENCH_BUDGET_SEC`: a positive number of seconds,
  *    `Bench`'s wall budget for admitting draws. Default: 1800.
  *  - `SPARK_GRAFT_TRACE`: `all` or a comma list of registered query
  *    names whose `Bench` runs always get a stage trace. Default: none.
  */
final case class Config(cpus: Int, sfDir: String, draws: Int,
    budgetSec: Double, trace: Set[String]) {

  /** Every main's session confs: the cores; UTC, so date_format and window
    * boundaries render the same on every host; no UI; tiny status-store
    * retention (the status stores keep plan graphs and metrics per
    * execution even with the UI off; across 100+ queries that accrual
    * becomes late-run GC pressure, and no main reads it back); and the
    * state-store maintenance wave pushed past a run's horizon (drained
    * streams leave their providers loaded, and the periodic
    * snapshot/cleanup over all of them steals cores from whatever query
    * it lands on; the checkpoints here are throwaway). */
  def sessionConfs: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.ui.retainedExecutions" -> "5",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "1h",
    "spark.ui.retainedJobs" -> "50",
    "spark.ui.retainedStages" -> "50",
    "spark.ui.retainedTasks" -> "500",
    "spark.sql.warehouse.dir" -> s"${sys.props("java.io.tmpdir")}/graft_warehouse")

  def session(): SparkSession = {
    val spark = sessionConfs
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Config {

  /** A child of `outer`: its own SQL confs, temp views and session state
    * over the same SparkContext and cache manager. A new session starts
    * from the options the session was built with, so the outer session's
    * runtime SQL confs are copied over first (a conf tuned with
    * `spark.conf.set` holds inside the child too), then `overrides`. */
  def child(outer: SparkSession, overrides: (String, String)*): SparkSession = {
    val child = outer.newSession()
    val conf = child.sessionState.conf
    outer.sessionState.conf.getAllConfs.foreach { case (k, v) =>
      if (conf.getConfString(k, null) != v) conf.setConfString(k, v)
    }
    overrides.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  /** The process environment, parsed on first use: the only read of it. */
  lazy val env: Config = parse(sys.env)

  def parse(env: Map[String, String]): Config = {
    def knob[T](name: String, default: => T, what: String)(read: String => Option[T]): T =
      setting(name, env.get(name), default, what)(read)
    Config(
      cpus = knob("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors,
        "a positive int")(_.toIntOption.filter(_ > 0)),
      sfDir = knob("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1",
        "an existing directory")(Some(_).filter(new java.io.File(_).isDirectory)),
      draws = knob("SPARK_GRAFT_DRAWS", 3, "an int >= 1")(_.toIntOption.filter(_ >= 1)),
      budgetSec = knob("SPARK_GRAFT_BENCH_BUDGET_SEC", 1800.0,
        "a positive number of seconds")(_.toDoubleOption.filter(_ > 0)),
      trace = env.get("SPARK_GRAFT_TRACE").fold(Set.empty[String]) { v =>
        if (v.trim == "all") Set("all")
        else queryNames("SPARK_GRAFT_TRACE", v).toSet
      })
  }

  /** `raw` read by `read`, or `default` when absent. A value `read`
    * rejects fails with a message naming `key` and what it must be. */
  private[graft] def setting[T](key: String, raw: Option[String], default: => T,
      what: String)(read: String => Option[T]): T =
    raw.fold(default)(v => read(v.trim).getOrElse(
      throw new IllegalArgumentException(s"$key must be $what, got '$v'")))

  /** A comma list of registered query names, in order, without repeats.
    * Fails listing every unknown name: a typo must not shrink a run. */
  def queryNames(what: String, list: String): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val known = SparkEntry.queries
    val unknown = names.filterNot(known.contains)
    require(names.nonEmpty, s"$what lists no query name")
    require(unknown.isEmpty, s"$what: unknown query names ${unknown.mkString(", ")}")
    names
  }

  /** A main's answer to bad positional arguments: its usage line on
    * stderr, exit code 2. */
  def usage(line: String): Nothing = {
    System.err.println(line)
    sys.exit(2)
  }
}
