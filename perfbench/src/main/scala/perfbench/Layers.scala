package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.{EncryptedZip, XmlRecordScan, ZipExtract}
import graft.ml.Models
import graft.operators.{Folds, Impute}
import graft.tools.TimingSink

/** Per-layer figures of the traced run, named by module: `pipeline`,
  * `ingest`, `ml`, `core`, `queries` (and `jvm`, filled in by Main).
  * Every name is emitted on every workload; a layer a workload does not
  * exercise reports 0. */
final class Layers(spark: SparkSession, workload: Workload, seed: Long, work: Path,
                   metric: (String, Double, String) => Unit) {
  import Layers._
  val recorder = new Recorder
  private val direct = mutable.LinkedHashMap[String, Double]()

  /** Figures of one traced run spanning [e0, e1] epoch ms. */
  def fromRun(p: Probe, out: Path, e0: Long, e1: Long): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val runId = recorder.add(s"run ${workload.name}", e0, e1)
    val jobs = p.jobsIn(e0, e1)
    m("core.storage.peak_mb") =
      p.storage.filter(s => s._1 >= e0 && s._1 <= e1).map(_._2).maxOption.getOrElse(0L) / MB
    m("core.storage.leftover_mb") = p.heldNow / MB
    m("core.checkpoints") = jobs.count(_.checkpoint).toDouble
    m("core.sinks.write_s") = p.sinkWriteNs / 1e9
    m("core.sinks.writes") = p.sinkWrites.toDouble
    m("pipeline.shuffle_mb") = 0.0
    m("pipeline.spill_mb") = 0.0
    for (s <- Stages; f <- StageFields) m(s"pipeline.$s.$f") = 0.0
    for (q <- CorpusWorkload.Queries; f <- QueryFields) m(s"queries.$q.$f") = 0.0
    val readBytes = jobs.map(_.inputBytes).sum.toDouble
    workload match {
      case _: SnapshotWorkload =>
        m("pipeline.shuffle_mb") = jobs.map(_.shuffleBytes).sum / MB
        m("pipeline.spill_mb") = jobs.map(_.spillBytes).sum / MB
        m("ingest.read_amplification") = readBytes / treeBytes(out.resolve("extracted"))
        stageSpans(p, jobs, runId, e0, e1).foreach { case (stage, f) =>
          f.foreach { case (k, v) => m(s"pipeline.$stage.$k") = v }
        }
      case c: CorpusWorkload =>
        m("ingest.read_amplification") = readBytes / treeBytes(c.dir)
        c.marks.foreach { case (q, a, b) =>
          val qj = p.jobsIn(a, b)
          val stored = p.blocksStored.filter(s => s._1 >= a && s._1 <= b).map(_._2).sum
          val attrs = Map("wall_s" -> (b - a) / 1e3,
            "exec_cpu_s" -> qj.map(_.cpuNs).sum / 1e9, "jobs" -> qj.size.toDouble,
            "shuffle_mb" -> qj.map(_.shuffleBytes).sum / MB, "checkpoint_mb" -> stored / MB)
          val qid = recorder.add(s"query $q", a, b, runId, attrs)
          qj.foreach(j => recorder.add(s"job ${j.id} ${j.site}", j.start, j.end, qid,
            Map("exec_cpu_s" -> j.cpuNs / 1e9, "input_mb" -> j.inputBytes / MB)))
          attrs.foreach { case (k, v) => m(s"queries.$q.$k") = v }
        }
    }
    m.toMap
  }

  /** Cut [e0, e1] into pipeline stages. A stage ends when the last
    * artifact it writes is committed; time before the first Spark job is
    * ingest and time after the last write is report. Each job belongs to
    * the stage its end falls in. */
  private def stageSpans(p: Probe, jobs: Seq[JobStats], runId: Int, e0: Long,
                         e1: Long): Seq[(String, Map[String, Double])] = {
    val ends = p.writes.filter(w => w.end >= e0 && w.end <= e1)
      .groupBy(w => stageOf(w.path)).map { case (s, ws) => s -> ws.map(_.end).max }
    val firstJob = jobs.map(_.start).minOption.getOrElse(e1)
    val cuts = Seq("ingest" -> firstJob) ++
      Stages.filter(s => s != "ingest" && s != "report").flatMap(s => ends.get(s).map(s -> _)) :+
      ("report" -> e1)
    var from = e0
    cuts.map { case (stage, until0) =>
      val until = math.max(until0, from)
      val js = jobs.filter(j => j.end > from && j.end <= until)
      val wall = (until - from) / 1e3
      val f = Map("wall_s" -> wall, "jobs" -> js.size.toDouble,
        "exec_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "input_mb" -> js.map(_.inputBytes).sum / MB,
        "driver_gap_s" -> (wall - Probe.covered(jobs, from, until) / 1e3))
      val sid = recorder.add(s"stage $stage", from, until, runId, f)
      js.foreach(j => recorder.add(s"job ${j.id} ${j.site}", j.start, j.end, sid,
        Map("exec_cpu_s" -> j.cpuNs / 1e9, "input_mb" -> j.inputBytes / MB)))
      from = until
      stage -> f
    }
  }

  private def timed[T](name: String)(body: => T): (T, Double) = {
    val a = System.currentTimeMillis()
    val r = body
    val b = System.currentTimeMillis()
    recorder.add(name, a, b)
    (r, (b - a) / 1e3)
  }

  /** Direct calls into public layer functions, on the traced run's
    * inputs and artifacts (`out` is that run's output tree). */
  def direct(out: Path): Unit = {
    Seq("ingest.zip_extract_s", "ingest.zip_mb_per_s", "ingest.zepp_decrypt_s",
      "ingest.xml_pass_s", "ingest.xml_records_per_s").foreach(direct(_) = 0.0)
    for (f <- Families; k <- Seq("fit_s", "fit_jobs")) direct(s"ml.$k.$f") = 0.0
    workload match {
      case w: SnapshotWorkload =>
        val dst = work.resolve("direct")
        val (_, zipS) = timed("ingest.zip_extract")(
          ZipExtract.extract(w.appleZip.toString, dst.resolve("apple").toString))
        direct("ingest.zip_extract_s") = zipS
        direct("ingest.zip_mb_per_s") = treeBytes(dst.resolve("apple")) / MB / zipS
        w.zeppZip.foreach { z =>
          direct("ingest.zepp_decrypt_s") = timed("ingest.zepp_decrypt")(
            EncryptedZip.extract(z.toString, dst.resolve("zepp").toString,
              Synth.ZeppPassword))._2
        }
        val xml = Files.walk(dst.resolve("apple")).iterator().asScala
          .find(_.getFileName.toString == "export.xml").get.toString
        val (n, xmlS) = timed("ingest.xml_pass")(
          TimingSink.rows(XmlRecordScan.records(spark, xml, Synth.RecordTypes)))
        direct("ingest.xml_pass_s") = xmlS
        direct("ingest.xml_records_per_s") = n / xmlS
        fits(out)
        Synth.deleteTree(dst)
      case _ =>
    }
  }

  /** One direct `Models.*` call per family on the largest fold's slices,
    * with the hyperparameters `RunPipeline` uses. The frame is the run's
    * labeled daily table, median-imputed per segment as in stage 5, with
    * the generator's State-of-Mind label (valence <= -0.25, the stage-5
    * `som_binary`) from [[Workloads.MlFrom]] on, so the SoM-less
    * snapshot gets the same fold as the ML one. */
  private def fits(out: Path): Unit = {
    import spark.implicits._
    val labeled = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(out.resolve("joined/daily_labeled.csv").toString)
      .withColumn("date", col("date").cast("date"))
    val features = Seq("sleep_hours", "sleep_quality_score", "hr_mean",
      "hr_std", "total_steps", "total_active_energy").filter(labeled.columns.contains)
    val labels = Synth.days.zipWithIndex.filter(!_._1.isBefore(Workloads.MlFrom))
      .map { case (d, i) =>
        (java.sql.Date.valueOf(d), if (Synth.valence(seed, i) <= -0.25) 1.0 else 0.0)
      }.toDF("date", "som_binary")
    val prepped = Impute.medianImpute(labeled.join(labels, "date"),
      Seq("segment_id"), features)
    val fold = Folds.calendarFoldsMonthly(prepped, "date", "som_binary")
      .orderBy(col("n_train").desc, col("fold_id")).head()
    val (ts, vs, ve) = (fold.getAs[java.sql.Date]("train_start"),
      fold.getAs[java.sql.Date]("val_start"), fold.getAs[java.sql.Date]("val_end"))
    val train = prepped.filter(col("date") >= lit(ts) && col("date") < lit(vs))
      .localCheckpoint(true)
    val valD = prepped.filter(col("date") >= lit(vs) && col("date") < lit(ve))
      .localCheckpoint(true)
    val probe = new Probe(spark)
    probe.attach()
    val calls: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "logreg_balanced" -> (() => Models.logisticRegression(train, valD, features, "som_binary")),
      "rf" -> (() => Models.randomForest(train, valD, features, "som_binary",
        numTrees = 50, maxDepth = 6)),
      "gbt" -> (() => Models.gbt(train, valD, features, "som_binary", maxIter = 20, maxDepth = 4)),
      "svc" -> (() => Models.linearSvc(train, valD, features, "som_binary", maxIter = 30)))
    calls.foreach { case (family, fit) =>
      probe.drain()
      val a = System.currentTimeMillis()
      TimingSink.rows(fit())
      val b = System.currentTimeMillis()
      probe.drain()
      direct(s"ml.fit_s.$family") = (b - a) / 1e3
      direct(s"ml.fit_jobs.$family") = probe.jobsIn(a, b).size.toDouble
      recorder.add(s"ml.fit $family", a, b)
    }
    probe.detach()
  }

  def emitDirect(): Unit = direct.foreach { case (k, v) => metric(k, v, unit(k)) }
}

object Layers {
  val MB: Double = 1048576.0
  val Stages = Seq("ingest", "aggregate", "unify", "label", "segment", "ml6", "report")
  val StageFields = Seq("wall_s", "jobs", "exec_cpu_s", "input_mb", "driver_gap_s")
  val QueryFields = Seq("wall_s", "exec_cpu_s", "jobs", "shuffle_mb", "checkpoint_mb")
  val Families = Seq("logreg_balanced", "rf", "gbt", "svc")

  /** The stage whose artifact a committed write path belongs to. */
  def stageOf(path: String): String =
    if (path.contains("/joined/apple/") || path.contains("/joined/zepp/")) "aggregate"
    else if (path.contains("/joined/daily_unified.csv")) "unify"
    else if (path.contains("/joined/daily_labeled.csv")) "label"
    else if (path.contains("/joined/segment_autolog.csv")) "segment"
    else "ml6"

  def treeBytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum.toDouble
    }

  def unit(name: String): String = field(name) match {
    case f if f.endsWith("_mb_per_s") => "MB/s"
    case f if f.endsWith("_per_s") => "1/s"
    case f if f.endsWith("_s") => "s"
    case f if f.endsWith("_mb") => "MB"
    case f if f.endsWith("_frac") => "fraction"
    case f if f.endsWith("read_amplification") => "ratio"
    case _ => "count"
  }

  /** The measured quantity in a dotted name: `ml.fit_s.rf` -> `fit_s`. */
  private def field(name: String): String =
    if (name.startsWith("ml.")) name.split('.')(1) else name
}
