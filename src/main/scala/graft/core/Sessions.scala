package graft.core

import org.apache.spark.sql.SparkSession

/** The one session builder: every entry point (Bench, Verify,
  * RunPipeline, the tools) and the test session go through it, so the
  * engine runs under one set of local-mode settings (SURVEY §7.1 core/).
  * UTC session time zone is load-bearing: the oracle compares date/hour
  * extractions against DuckDB's naive timestamps. */
object Sessions {
  private val LogLevel = "WARN"

  /** `SPARK_GRAFT_CPUS` when set, otherwise the host's processor count. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = Sessions.cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Even with the UI off, the SQL status listener retains completed
      // executions — plan graphs included — in driver memory (default
      // 1000). Over 100+ queries x multiple actions x adaptive reruns
      // that store is pure suite-state heap aging the later queries pay
      // for in GC time. Keep only a handful.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .getOrCreate()
    s.sparkContext.setLogLevel(LogLevel)
    s
  }
}
