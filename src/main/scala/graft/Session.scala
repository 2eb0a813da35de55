package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft entry point runs under: Bench
  * (and its recycled sessions), Verify, Explain, the measurement tools
  * and the specs. A tool that needs more sets it with `spark.conf.set`
  * after the call, so the shared config lives here and nowhere else.
  */
object Session {

  /** Task slots: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config(graft.sources.Tables.NanosFlag, "true")
      // small scan splits: the test corpora are single parquet files, and
      // pure-map queries otherwise run at input-split parallelism (1 core)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Status-store retention is pure driver overhead in a headless
      // run: even with the UI off, the app/SQL status listeners retain
      // the last 1000 executions (each holding the FULL plan description
      // string — 1000+-line plans here) plus 1000 jobs / 1000 stages /
      // 100k tasks in driver heap. Across a 318-query × 3-run sweep that
      // is ~950 live plan graphs competing with execution memory and
      // listener-bus throughput (the r14 bench A/B measured the bound at
      // −18.6% of sweep total). Keep a post-mortem handful; a long-lived
      // production driver wants the same bound for the same reason.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
