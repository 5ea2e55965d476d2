package perfbench

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds taken from the
  * listener events' own clock (`SparkListenerEvent.time`, which Spark
  * stamps with `System.currentTimeMillis`); driver-side span edges use
  * the same clock, never `nanoTime`, so the two can be subtracted. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, attrs: Map[String, Double] = Map.empty)

/** In-memory span store, written once as JSON at exit. */
final class Recorder {
  private val spans = mutable.ArrayBuffer[Span]()
  def add(name: String, start: Long, end: Long, parent: Int = -1,
          attrs: Map[String, Double] = Map.empty): Int = synchronized {
    spans += Span(spans.size, name, start, end, parent, attrs)
    spans.size - 1
  }
  def json: String = synchronized {
    spans.map { s =>
      val a = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString(", ")
      s"""{"id": ${s.id}, "name": "${Json.esc(s.name)}", "start_ms": ${s.start}, """ +
        s""""end_ms": ${s.end}, "parent": ${s.parent}, "attrs": {$a}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Everything one job did, summed over its tasks. */
final class JobStats(val id: Int, val start: Long, val site: String) {
  def checkpoint: Boolean = site.startsWith("localCheckpoint")
  var end: Long = -1L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** A finished file write: SQL execution end time and target path. */
final case class Write(end: Long, path: String)

/** Listener pair for the traced run: a `SparkListener` for jobs, tasks,
  * RDD blocks and SQL-execution boundaries, and a `QueryExecutionListener`
  * for sink writes. Both only append to in-memory state; `drain` waits
  * for the listener bus before anything is read. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap[Int, JobStats]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val writeStart = mutable.HashMap[Long, String]()
  /** File writes in commit order: SQL execution end time and target. */
  val writes = mutable.ArrayBuffer[Write]()
  /** (epoch ms of the update, bytes held by all RDD blocks after it). */
  val storage = mutable.ArrayBuffer[(Long, Long)]()
  /** (epoch ms, bytes) of each RDD block as it is first stored. */
  val blocksStored = mutable.ArrayBuffer[(Long, Long)]()
  private val blockBytes = mutable.HashMap[String, Long]()
  private var heldBytes = 0L
  var sinkWrites = 0
  var sinkWriteNs = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  def drain(): Unit = BenchAccess.drainListeners(spark.sparkContext)
  def reset(): Unit = synchronized {
    jobs.clear(); writeStart.clear(); writes.clear()
    storage.clear(); blocksStored.clear()
    sinkWrites = 0; sinkWriteNs = 0L
  }
  def heldNow: Long = synchronized(heldBytes)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage carries the job's call site, e.g. "localCheckpoint at X.scala:12"
    val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    jobs(e.jobId) = new JobStats(e.jobId, e.time, site)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
      j.cpuNs += m.executorCpuTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now = System.currentTimeMillis()
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = blockBytes.getOrElse(key, 0L)
      if (before == 0L && bytes > 0L) blocksStored += ((now, bytes))
      if (bytes > 0L) blockBytes(key) = bytes else blockBytes.remove(key)
      heldBytes += bytes - before
      storage += ((now, heldBytes))
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case x: SparkListenerSQLExecutionStart =>
        Probe.writePath(x.sparkPlanInfo).foreach(writeStart(x.executionId) = _)
      case x: SparkListenerSQLExecutionEnd =>
        writeStart.remove(x.executionId).foreach(p => writes += Write(x.time, p))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val isWrite = Seq(qe.logical, qe.commandExecuted).exists(_.collectFirst {
        case _: InsertIntoHadoopFsRelationCommand => true
      }.isDefined)
      if (isWrite) { sinkWrites += 1; sinkWriteNs += durationNs }
    }
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  /** Jobs that ended inside [from, to]. */
  def jobsIn(from: Long, to: Long): Seq[JobStats] = synchronized {
    jobs.values.filter(j => j.end >= from && j.end <= to).toSeq
  }
}

object Probe {
  private val WriteNode = "Execute InsertIntoHadoopFsRelationCommand"
  private val WritePath = (WriteNode + " ([^,\\s]+)").r

  /** Target path of a file-write SQL execution, from its plan tree. */
  def writePath(plan: SparkPlanInfo): Option[String] =
    if (plan.nodeName == WriteNode)
      WritePath.findFirstMatchIn(plan.simpleString).map(_.group(1))
    else plan.children.iterator.flatMap(writePath).nextOption()

  /** Milliseconds of [from, to) covered by at least one job interval. */
  def covered(jobs: Seq[JobStats], from: Long, to: Long): Long = {
    val iv = jobs.map(j => (math.max(j.start, from), math.min(j.end, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s""""${esc(k)}": $v""" }.mkString("{", ", ", "}")
}
