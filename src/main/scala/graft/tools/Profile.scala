package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Query profiler: where a query's seconds go. Per query, one untimed
  * warm-up (codegen/JIT), then `runs` measured runs through
  * [[TimingSink.timedRun]], reporting the minimum of
  *  - CONSTRUCT: the `fn(spark, dir)` call, where eager localCheckpoints,
  *    driver-side fits and collect-based constants run;
  *  - SINK: executing the returned frame's own plan;
  *  - CPU: process CPU over the run. Wall clock swings 2-3x with host
  *    load; process CPU sums the cycles the tasks burned, so it is the
  *    before/after currency for a CPU-bound kernel change.
  *
  * The last run carries a listener: its per-job table, its stages of
  * 50 ms or more, and the final (post-AQE) formatted plan. The job table
  * is on one clock, the listener's epoch milliseconds, with the run's
  * start taken from `currentTimeMillis`. A job's gap is the time since
  * the run started or the latest earlier job ended: driver work between
  * actions when positive, overlap with a running job when negative.
  *
  * usage: runMain graft.tools.Profile <sfDir> <q1,q2,...> [runs]
  */
object Profile {
  final case class Job(id: Int, startMs: Long, endMs: Long, gapBefore: Double,
                       head: String) {
    def seconds: Double = (endMs - startMs) / 1e3
  }
  /** Minimum construct/sink/cpu seconds over the measured runs; `wall`,
    * `rows`, `jobs`, `stages` and `plan` are the profiled last run's. */
  final case class Result(construct: Double, sink: Double, cpu: Double,
                          wall: Double, rows: Long, jobs: Seq[Job],
                          stages: Seq[String], plan: String)

  private val DrainKey = "graft.profile.drain"
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def measure(spark: SparkSession, dir: String, name: String, runs: Int): Result = {
    val fn = graft.SparkEntry.queries(name)
    final case class Run(construct: Double, wall: Double, cpu: Double,
                         rows: Long, t0Ms: Long, df: DataFrame)
    def run(): Run = {
      var (construct, t0Ms, cpu0, df) = (0.0, 0L, 0L, null: DataFrame)
      val (wall, rows) = TimingSink.timedRun(spark, (s, d) => {
        t0Ms = System.currentTimeMillis(); cpu0 = os.getProcessCpuTime
        val c0 = System.nanoTime()
        df = fn(s, d)
        construct = (System.nanoTime() - c0) / 1e9
        df
      }, dir)
      Run(construct, wall, (os.getProcessCpuTime - cpu0) / 1e9, rows, t0Ms, df)
    }
    run()
    val measured = (1 until runs).map(_ => run())
    // the listener is attached for the last run only; events older than
    // that run's start are dropped below
    val sc = spark.sparkContext
    val starts = scala.collection.mutable.Map.empty[Int, (Long, String)]
    val ends = scala.collection.mutable.Map.empty[Int, Long]
    val stages = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val drained = new CountDownLatch(1)
    @volatile var drainJob = -1
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(DrainKey) != null))
          drainJob = js.jobId
        else starts(js.jobId) = (js.time, js.stageInfos.lastOption
          .fold("?")(_.name.takeWhile(_ != '\n').take(70)))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == drainJob) drained.countDown() else ends(je.jobId) = je.time
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        for (s <- si.submissionTime; e <- si.completionTime if e - s >= 50)
          stages += s -> (f"[stage] #${si.stageId}%4d wall=${(e - s) / 1e3}%6.3f " +
            f"exec=${m.executorRunTime / 1e3}%6.3f cpu=${m.executorCpuTime / 1e9}%6.3f " +
            f"deser=${m.executorDeserializeTime / 1e3}%6.3f tasks=${si.numTasks}%3d " +
            si.name.takeWhile(_ != '\n').take(60))
      }
    }
    sc.addSparkListener(listener)
    val last = try {
      val r = run()
      // a marker job after the run: the listener bus is FIFO, so once its
      // end arrives every event of the profiled run has been delivered
      sc.setLocalProperty(DrainKey, "1")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(DrainKey, null)
      require(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      r
    } finally sc.removeSparkListener(listener)
    val all = measured :+ last
    var prevEnd = last.t0Ms
    val jobs = starts.toSeq.filter(_._2._1 >= last.t0Ms).sortBy(_._2._1).map {
      case (id, (start, head)) =>
        val end = ends.getOrElse(id, start)
        val j = Job(id, start, end, (start - prevEnd) / 1e3, head)
        prevEnd = math.max(prevEnd, end)
        j
    }
    Result(all.map(_.construct).min, all.map(r => r.wall - r.construct).min,
      all.map(_.cpu).min, last.wall, last.rows, jobs,
      stages.toSeq.filter(_._1 >= last.t0Ms).sortBy(_._1).map(_._2),
      last.df.queryExecution.explainString(FormattedMode))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.tools.Profile <sfDir> <q1,q2,...> [runs]")
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val runs = args.lift(2).fold(3)(_.toInt)
    require(runs >= 1, "runs must be >= 1")
    val spark = graft.core.Sessions.local()
    names.foreach { name =>
      val r = measure(spark, args(0), name, runs)
      println(f"[profile] $name construct=${r.construct}%.2f s sink=${r.sink}%.2f s " +
        f"cpu=${r.cpu}%.2f s rows=${r.rows} (min of $runs)")
      // concurrent jobs overlap, so job-seconds may exceed the wall
      println(f"[jobs] last run: wall=${r.wall}%.2f s, ${r.jobs.size} jobs, " +
        f"${r.jobs.map(_.seconds).sum}%.2f job-s, " +
        f"${r.jobs.map(_.gapBefore).filter(_ > 0).sum}%.2f s before or between jobs")
      r.jobs.foreach(j => println(f"[jobs]  #${j.id}%4d dur=${j.seconds}%7.3f s " +
        f"gap_before=${j.gapBefore}%7.3f s  ${j.head}"))
      r.stages.foreach(println)
      println(r.plan)
    }
    spark.stop()
  }
}
