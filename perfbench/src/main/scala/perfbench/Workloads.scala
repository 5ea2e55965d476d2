package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.pipeline.RunPipeline
import graft.tools.TimingSink

/** One benchmark workload: inputs made once from the seed, a job that is
  * timed, and an output check that runs outside the timed window. */
trait Workload {
  def name: String
  /** Write this workload's inputs under `dir` (setup, timed separately). */
  def prepare(spark: SparkSession, dir: Path, seed: Long): Unit
  /** Raw input records one run consumes. */
  def inputRecords: Long
  /** The timed job; its artifacts (if any) go under `out`. */
  def run(spark: SparkSession, out: Path): Unit
  /** Problems with the run's outputs; empty when correct. */
  def check(out: Path): Seq[String]
  /** Output fingerprint every run of this seed must reproduce: set by
    * the first checked run unless loaded from an earlier invocation. */
  var reference: Option[Map[String, String]] = None
}

/** `RunPipeline.run` on a synthetic snapshot. */
final class SnapshotWorkload(val name: String, shape: Synth.Shape) extends Workload {
  private val ml = shape.somFrom.isDefined
  var snap: Synth.Snapshot = _
  private var logs: Seq[RunPipeline.StageLog] = Nil
  def prepare(spark: SparkSession, dir: Path, seed: Long): Unit =
    snap = Synth.snapshot(dir, seed, shape)
  def inputRecords: Long = snap.records
  def appleZip: Path = Files.list(snap.rawRoot.resolve(s"${Synth.Participant}/apple/export"))
    .iterator().asScala.next()
  def zeppZip: Option[Path] = Some(snap.rawRoot.resolve(s"${Synth.Participant}/zepp"))
    .filter(Files.isDirectory(_)).map(d => Files.list(d).iterator().asScala.next())

  def run(spark: SparkSession, out: Path): Unit = {
    logs = Nil
    logs = RunPipeline.run(spark, snap.rawRoot.toString, Synth.Participant,
      Synth.SnapshotDate.toString, out.toString,
      RunPipeline.Config(zeppPassword = Some(Synth.ZeppPassword)))
  }

  private val expectedStatus: Seq[((Int, String), String)] =
    Seq((0, "ingest"), (1, "aggregate"), (2, "unify"), (3, "label"), (4, "segment"))
      .map(_ -> "success") ++
      (if (ml) Seq((5, "ml-prep"), (6, "ml6"), (6, "ml6-ext")).map(_ -> "success")
       else Seq((5, "ml-prep") -> "skipped")) :+ ((9, "report") -> "success")

  private val expectedFiles: Seq[String] =
    Seq("joined/apple/daily_cardio.csv", "joined/apple/daily_sleep.csv",
      "joined/apple/daily_activity.csv", "joined/apple/daily_meds_autoexport.csv",
      "joined/daily_unified.csv", "joined/daily_labeled.csv",
      "joined/segment_autolog.csv", "RUN_REPORT.md") ++
      (if (shape.zeppFrom.isDefined) Seq("joined/zepp/daily_cardio.csv",
        "joined/zepp/zepp_daily_features.csv")
       else Nil) ++
      (if (ml) Seq("joined/apple/daily_som_autoexport.csv", "cv_summary.json",
        "confusion_matrices/cm_logreg_balanced_som_binary.json",
        "metrics/per_class_logreg_balanced_som_binary.csv",
        "metrics/ml6_extended_summary.csv")
       else Nil)

  def check(out: Path): Seq[String] = {
    val status = logs.map(l => (l.stage, l.name) -> l.status).toMap
    val stages = expectedStatus.collect {
      case (k, want) if !status.get(k).contains(want) =>
        s"stage $k: ${status.getOrElse(k, "missing")}, expected $want"
    } ++ (if (shape.zeppFrom.isDefined &&
        logs.exists(l => l.stage == 0 && l.detail.endsWith("zepp=skipped")))
      Seq("zepp ZIP skipped") else Nil)
    val missing = expectedFiles.filterNot(f => Files.isRegularFile(out.resolve(f)))
      .map(f => s"missing artifact $f")
    if (stages.nonEmpty || missing.nonEmpty) return stages ++ missing
    val want = snap.days.map(_.date.toString).toSet
    val dates = Seq("joined/daily_unified.csv", "joined/daily_labeled.csv",
        "joined/apple/daily_cardio.csv", "joined/apple/daily_activity.csv")
      .flatMap { f =>
        val (h, rows) = Check.csv(out.resolve(f))
        val got = rows.map(_(h("date")))
        val extra = got.filterNot(want).distinct.sorted
        val lost = (want -- got).toSeq.sorted
        if (got.size == want.size && extra.isEmpty) None
        else Some(s"$f: ${got.size} rows for ${want.size} days, extra dates " +
          s"${extra.take(3).mkString(" ")}, missing ${lost.take(3).mkString(" ")}")
      } ++ (if (Check.csv(out.resolve("joined/segment_autolog.csv"))._2.isEmpty)
        Seq("segment_autolog.csv is empty") else Nil)
    val mlRows =
      if (!ml) Nil
      else {
        val (h, rows) = Check.csv(out.resolve("metrics/ml6_extended_summary.csv"))
        val models = rows.map(_(h("model"))).distinct.sorted
        val perModel = rows.groupBy(_(h("model"))).values.map(_.size).toSet
        if (models != Seq("gbt", "logreg_balanced", "rf", "svc") || perModel.size != 1)
          Seq(s"ml6_extended_summary: models $models, rows per model $perModel")
        else Nil
      }
    val hashes = Check.hashTree(out, skip = Set("extracted"))
    val drift = reference match {
      case None => reference = Some(hashes); Nil
      case Some(ref) =>
        (ref.keySet ++ hashes.keySet).toSeq.sorted
          .filter(k => ref.get(k) != hashes.get(k))
          .map(k => s"artifact $k differs from the first run of this seed")
    }
    Check.stage1(out, snap.days) ++ dates ++ mlRows ++ drift
  }
}

/** Corpus compositions through `SparkEntry.queries`, each drained
  * through `TimingSink.rows`: one chain per dedup family (LSH near-dup
  * via CorpusPipeline; exact-substring cut, PII redaction and
  * decontamination), both built on eager `localCheckpoint` stage
  * boundaries. The other five corpus queries made a cold run swing by
  * 17 % between seeds and their DuckDB twins (recursive CTEs) cost up to
  * 40 s per check. */
final class CorpusWorkload(nDocs: Int) extends Workload {
  val name = "corpus_prep"
  def queries: Seq[String] = CorpusWorkload.Queries
  var dir: Path = _
  private var rows: Map[String, Long] = Map.empty

  def prepare(spark: SparkSession, d: Path, seed: Long): Unit = {
    dir = d
    Synth.documents(spark, d, seed, nDocs)
  }
  def inputRecords: Long = nDocs.toLong * queries.size
  def runQuery(spark: SparkSession, q: String): Long =
    TimingSink.rows(graft.SparkEntry.queries(q)(spark, dir.toString))
  /** (query, start, end) epoch ms of each query in the last run. */
  val marks = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
  def run(spark: SparkSession, out: Path): Unit = {
    rows = Map.empty
    marks.clear()
    rows = queries.map { q =>
      val a = System.currentTimeMillis()
      val n = runQuery(spark, q)
      marks += ((q, a, System.currentTimeMillis()))
      q -> n
    }.toMap
  }
  def check(out: Path): Seq[String] = {
    val empty = queries.filter(q => rows.getOrElse(q, 0L) <= 0L).map(q => s"$q: no rows")
    val counts = rows.map { case (q, n) => q -> n.toString }
    val drift = reference match {
      case None => reference = Some(counts); Nil
      case Some(ref) => queries.filter(q => ref.get(q) != counts.get(q))
        .map(q => s"$q: ${counts.getOrElse(q, "no")} rows, first run had ${ref.getOrElse(q, "none")}")
    }
    empty ++ drift
  }

  /** Materialise the rows of `which` as parquet plus their DuckDB twin
    * SQL, for the oracle comparison made after the JVM exits. */
  def writeOracleInputs(spark: SparkSession, out: Path, which: Seq[String]): Unit = {
    Files.createDirectories(out)
    which.foreach { q =>
      graft.SparkEntry.queries(q)(spark, dir.toString)
        .write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val sql = graft.SparkEntry.oracleSql
    Files.write(out.resolve("oracle_sql.json"), Json.obj(which.map(q =>
      q -> ("\"" + Json.esc(sql(q)) + "\""))).getBytes(UTF_8))
  }
}

object CorpusWorkload {
  val Queries: Seq[String] = Seq("e2e_corpus_assembly", "e2e_decontam_prep")
}

/** Output checks shared by the snapshot workloads. */
object Check {
  /** Header index and data rows of a small single-file CSV (no quoting
    * in the daily tables checked here). */
  def csv(p: Path): (Map[String, Int], Seq[Array[String]]) = {
    val lines = Files.readAllLines(p, UTF_8).asScala.toSeq
    val h = lines.head.split(",", -1).zipWithIndex.toMap
    (h, lines.tail.filter(_.nonEmpty).map(_.split(",", -1)))
  }

  private def near(got: String, want: Double, tol: Double = 2e-6): Boolean =
    got.nonEmpty && math.abs(got.toDouble - want) <= tol * math.max(1.0, math.abs(want))

  /** Stage-1 Apple daily CSVs against the generator's per-day values. */
  def stage1(out: Path, days: Seq[Synth.DayFacts]): Seq[String] = {
    val byDate = days.map(d => d.date.toString -> d).toMap
    def compare(file: String)(ok: (Map[String, Int], Array[String], Synth.DayFacts) => Boolean) = {
      val (h, rows) = csv(out.resolve(file))
      val bad = rows.filter(r => byDate.get(r(h("date"))).forall(d => !ok(h, r, d)))
      if (bad.isEmpty) Nil
      else Seq(s"$file: ${bad.size} day(s) differ from the generator, first ${bad.head.mkString(",")}")
    }
    compare("joined/apple/daily_cardio.csv") { (h, r, d) =>
      r(h("hr_samples")).toLong == d.hrN &&
        near(r(h("hr_mean")), d.hrSum.toDouble / d.hrN) &&
        near(r(h("hr_min")), d.hrMin) && near(r(h("hr_max")), d.hrMax)
    } ++ compare("joined/apple/daily_activity.csv") { (h, r, d) =>
      near(r(h("total_steps")), d.steps) &&
        near(r(h("total_distance")), d.distanceM / 1000.0) &&
        near(r(h("total_active_energy")), d.energyDk / 10.0)
    } ++ compare("joined/apple/daily_sleep.csv") { (h, r, d) =>
      near(r(h("total_sleep_minutes")), d.asleepMin) &&
        near(r(h("sleep_quality_score")), 100.0 * d.asleepMin / d.inBedMin)
    }
  }

  /** SHA-256 of every file under `root` (relative path -> hex), skipping
    * the top-level directories in `skip` and Hadoop's `.crc` sidecars. RUN_REPORT.md is hashed with
    * its `**Generated**:` line masked: it stamps the wall clock. */
  def hashTree(root: Path, skip: Set[String]): Map[String, String] =
    scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString)
        .filterNot(rel => skip.exists(d => rel.startsWith(d + "/")) || rel.endsWith(".crc"))
        .map { rel =>
          val bytes = Files.readAllBytes(root.resolve(rel))
          val content =
            if (rel != "RUN_REPORT.md") bytes
            else new String(bytes, UTF_8).linesIterator
              .map(l => if (l.startsWith("**Generated**:")) "**Generated**: <masked>" else l)
              .mkString("\n").getBytes(UTF_8)
          rel -> MessageDigest.getInstance("SHA-256").digest(content)
            .map(b => f"${b & 0xff}%02x").mkString
        }.toMap
    }
}

object Workloads {
  /** HR records per day: 5 +- 1 over the 2,879 days is about 14 k, 0.3 %
    * of BASELINE's 4.68 M. Denser XML only lengthens every rescan, and
    * each run has to fit the benchmark's time budget twice over. */
  val HrPerDay = 5
  val ZeppFrom: LocalDate = LocalDate.of(2023, 10, 22)
  /** First State-of-Mind day: 7.7 months, one monthly fold. */
  val MlFrom: LocalDate = LocalDate.of(2025, 3, 1)
  val CorpusDocs = 500

  def apply(name: String): Workload = name match {
    case "snapshot_sensors" => new SnapshotWorkload(name,
      Synth.Shape(HrPerDay, somFrom = None, zeppFrom = Some(ZeppFrom)))
    case "snapshot_ml6" => new SnapshotWorkload(name,
      Synth.Shape(HrPerDay, somFrom = Some(MlFrom), zeppFrom = Some(ZeppFrom)))
    case "corpus_prep" => new CorpusWorkload(CorpusDocs)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
