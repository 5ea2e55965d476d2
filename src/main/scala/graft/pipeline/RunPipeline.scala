package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.core.Sinks
import graft.ingest.{Discovery, EncryptedZip, RobustCsv, ZipExtract}
import graft.ml.Models
import graft.operators.{Folds, Impute}

/** The end-to-end snapshot orchestrator — the engine's analog of the
  * reference's primary entry point `python -m scripts.run_full_pipeline
  * --participant --snapshot` (`scripts/run_full_pipeline.py:2231`, stage
  * functions `:420-2228`): raw ZIPs in, `RUN_REPORT.md` + the full
  * artifact tree out.
  *
  * Stage map (reference stage → engine call):
  *  - 0 ingest: S1/S2 deterministic ZIP selection (filename date, mtime
  *    fallback; Zepp optionally password-protected) + S3 extraction
  *  - 1 aggregate: S5/S6 XML scans + S7/S8 robust CSVs → daily_* frames
  *  - 2 unify: the five-domain `unify_all` (J11)
  *  - 3 label: segment z-scores → PBSI composite → percentile labels
  *  - 4 segment: `segment_autolog` table
  *  - 5 ML prep: temporal gate + anti-leak drop (ML7 exclusions) +
  *    median impute (M1 fallback path — deterministic)
  *  - 6 ML6: per-fold LogisticRegression (the reference's stage-6 model)
  *    + the ML6-extended families (RF / GBT / LinearSVC) → metrics
  *  - 7/8 LSTM + TFLite: out of engine scope per SURVEY (external libs)
  *  - 9 report: `Reports.writeArtifacts` tree (cv_summary.json,
  *    confusion matrices, per-class CSVs, RUN_REPORT.md)
  *
  * Every stage is the already-parity-checked library operator; this
  * object only sequences them and lays out files. All frames stay
  * distributed — the only collects are fold boundaries (a handful of
  * rows) and the report rendering the reference also does driver-side.
  *
  * Stage boundaries. A frame read by more than one later query is built
  * once (an eager local checkpoint, see [[Boundaries]]) so no consumer
  * replays its lineage back to `export.xml` or the CSVs; each is released
  * after its last consumer:
  *  - stage-1 daily frames (Apple cardio / sleep / activity, meds, SoM,
  *    Zepp cardio and sleep) — read by their stage-1 CSV write, the
  *    stage-2 unify and, for Zepp cardio, `zepp_daily_features`; released
  *    once `unified` is built. `zepp_daily_features` has one consumer,
  *    its CSV, and is not materialised.
  *  - `unified` — read by `daily_unified.csv` and the stage-3 labelling;
  *    released once `labeled` is built.
  *  - `labeled` — read by stages 4-6 and the report; released when the
  *    run returns, since every exit path writes the report from it.
  *  - the per-fold train / val slices — read by every ML6 family fit and
  *    the fold guard; released after `ml6_extended_summary.csv`.
  * Only the three Apple materialisations scan `export.xml`.
  */
object RunPipeline {

  final case class StageLog(stage: Int, name: String, status: String,
                            detail: String)

  /** Participant/site configuration the reference reads from its config
    * files; defaults match the parity fixtures. */
  final case class Config(
      homeTz: String = "Europe/Dublin",
      tzCutover: String = "2024-01-15",
      tzBefore: String = "Europe/Dublin",
      tzAfter: String = "America/New_York",
      mlCutoff: String = "0001-01-01",
      foldsMonthly: Boolean = true,
      trainDays: Int = 28, valDays: Int = 14, nFolds: Int = 4,
      zeppPassword: Option[String] = None)

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: graft.pipeline.RunPipeline <rawRoot> <participant> <snapshot:YYYY-MM-DD> <outDir> [zeppPassword]")
    val spark = graft.core.Sessions.local()
    val logs = run(spark, args(0), args(1), args(2), args(3),
      Config(zeppPassword = args.lift(4)))
    logs.foreach(l =>
      println(f"[stage ${l.stage}%d] ${l.name}%-10s ${l.status}%-8s ${l.detail}"))
    spark.stop()
  }

  // ---- filesystem helpers (driver-side, stage-0 scale: a few files) ----

  private def listWithSuffix(dir: Path, suffix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else scala.util.Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala
        .filter(p => p.getFileName.toString.toLowerCase.endsWith(suffix))
        .toSeq.sortBy(_.getFileName.toString)
    }

  private def findFirst(root: String, name: String): Option[String] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) None
    else scala.util.Using.resource(Files.walk(r)) { s =>
      s.iterator().asScala
        .filter(p => p.getFileName.toString == name)
        .toSeq.sortBy(_.toString).headOption.map(_.toString)
    }
  }

  private def globFiles(pattern: String): Seq[String] = {
    // pattern shape: <dir>/*.csv (Discovery.zeppGlobs)
    val slash = pattern.lastIndexOf('/')
    val (dir, glob) = (pattern.substring(0, slash), pattern.substring(slash + 1))
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Nil
    else {
      val m = java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$glob")
      scala.util.Using.resource(Files.list(d)) { s =>
        s.iterator().asScala
          .filter(p => m.matches(p.getFileName)).toSeq.sortBy(_.toString)
          .map(_.toString)
      }
    }
  }

  private def readCsv(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .option("nullValue", "").csv(paths: _*)

  /** One run's stage boundaries. [[apply]] builds a frame once, by an
    * eager local checkpoint, so every later consumer reads that copy
    * instead of replaying its lineage back to the raw files. [[release]]
    * drops a boundary's blocks once its last consumer has run; `run`
    * releases whatever an early return or a failure left held. */
  private final class Boundaries {
    private val held = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def apply(df: DataFrame): DataFrame = {
      val b = df.localCheckpoint(eager = true)
      held += b
      b
    }
    def release(dfs: DataFrame*): Unit = dfs.filter(held.contains).foreach { b =>
      held -= b
      b.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
        .foreach(_.unpersist(blocking = true))
    }
    def releaseAll(): Unit = release(held.toSeq: _*)
  }

  // ---- the pipeline ----

  def run(spark: SparkSession, rawRoot: String, participant: String,
          snapshot: String, outDir: String,
          cfg: Config = Config()): Seq[StageLog] = {
    val boundary = new Boundaries
    try stages(spark, rawRoot, participant, snapshot, outDir, cfg, boundary)
    finally boundary.releaseAll()
  }

  private def stages(spark: SparkSession, rawRoot: String, participant: String,
                     snapshot: String, outDir: String, cfg: Config,
                     boundary: Boundaries): Seq[StageLog] = {
    val logs = scala.collection.mutable.ArrayBuffer[StageLog]()
    val snapDate = java.time.LocalDate.parse(snapshot)
    val extracted = s"$outDir/extracted"
    val joined = s"$outDir/joined"

    // ---------- stage 0: ingest ----------
    val appleDir = Paths.get(rawRoot, participant, "apple", "export")
    val appleZips = listWithSuffix(appleDir, ".zip")
    val appleChosen = Discovery
      .selectByFilenameDate(appleZips.map(_.getFileName.toString), snapDate)
      .orElse(Discovery.selectByMtime(
        appleZips.map(p => p.getFileName.toString ->
          Files.getLastModifiedTime(p).toMillis),
        snapDate.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC)
          .toInstant.toEpochMilli))
    appleChosen.foreach { name =>
      ZipExtract.extract(appleDir.resolve(name).toString, s"$extracted/apple")
    }
    val zeppDir = Paths.get(rawRoot, participant, "zepp")
    val zeppZips = listWithSuffix(zeppDir, ".zip")
    val zeppChosen = Discovery.selectByMtime(
      zeppZips.map(p => p.getFileName.toString ->
        Files.getLastModifiedTime(p).toMillis),
      snapDate.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli)
    val zeppExtracted = zeppChosen match {
      case Some(name) =>
        val zp = zeppDir.resolve(name).toString
        cfg.zeppPassword match {
          case Some(pwd) =>
            EncryptedZip.extract(zp, s"$extracted/zepp/cloud", pwd); true
          case None =>
            // reference stage 0: encrypted Zepp without a password is a
            // non-fatal skip (apple-only mode keeps ML6 reproducible)
            try { ZipExtract.extract(zp, s"$extracted/zepp/cloud"); true }
            catch { case _: Exception => false }
        }
      case None => false
    }
    logs += StageLog(0, "ingest",
      if (appleChosen.isDefined) "success" else "skipped",
      s"apple=${appleChosen.getOrElse("-")} zepp=" +
        s"${if (zeppExtracted) zeppChosen.getOrElse("-") else "skipped"}")

    // ---------- stage 1: aggregate ----------
    val appleXml = findFirst(s"$extracted/apple", "export.xml")
    val appleCardio =
      appleXml.map(x => boundary(ReferencePipeline.appleDailyCardio(spark, x)))
    val appleSleep =
      appleXml.map(x => boundary(ReferencePipeline.appleDailySleep(spark, x)))
    val appleAct =
      appleXml.map(x => boundary(ReferencePipeline.appleDailyActivity(spark, x)))
    val medsCsv = findFirst(s"$extracted/apple", "Medications.csv")
    val meds = medsCsv.map(p => boundary(ReferencePipeline.medsDaily(
      spark.read.option("header", "true").csv(p), snapshot)))
    val somCsv = findFirst(s"$extracted/apple", "StateOfMind.csv")
    val som = somCsv.map(p => boundary(ReferencePipeline.somDaily(
      spark.read.option("header", "true").csv(p), Some(snapshot))))
    val globs = Discovery.zeppGlobs(extracted)
    def zeppFiles(key: String): Seq[String] = globFiles(globs(key))
    val zeppCardio =
      if (!zeppExtracted) None
      else Some(zeppFiles("HEARTRATE") ++ zeppFiles("HEARTRATE_AUTO"))
        .filter(_.nonEmpty)
        .map(fs => boundary(ReferencePipeline.zeppDailyCardio(readCsv(spark, fs))))
    // the reference keeps SLEEP_NAPS_*/SLEEP_INTERVALS_* files inside the
    // SLEEP dir — split the one glob by file name (never by the directories
    // above it: "snapshots" contains "naps")
    val sleepAll = if (zeppExtracted) zeppFiles("SLEEP") else Nil
    def sleepFilesNamed(part: String): Seq[String] =
      sleepAll.filter(f => Paths.get(f).getFileName.toString.toUpperCase.contains(part))
    val napsFiles = sleepFilesNamed("NAPS")
    val intervalFiles = sleepFilesNamed("INTERVALS")
    val sleepDailyFiles = sleepAll.diff(napsFiles).diff(intervalFiles)
    val zeppSleep =
      Some(sleepDailyFiles).filter(_.nonEmpty).map { fs =>
        val daily = RobustCsv.canonicalize(
          spark.read.option("header", "true").option("escape", "\"").csv(fs: _*),
          Map("deep_min" -> Seq("deepSleepTime", "deep_minutes"),
            "light_min" -> Seq("shallowSleepTime", "light_minutes"),
            "rem_min" -> Seq("REMTime", "rem_minutes")))
        val naps = Some(napsFiles).filter(_.nonEmpty)
          .map(n => spark.read.option("header", "true").option("escape", "\"")
            .csv(n: _*))
          .getOrElse(spark.range(0)
            .select(lit(null).cast("string").as("date"),
              lit(null).cast("string").as("naps")))
        val intervals = Some(intervalFiles).filter(_.nonEmpty)
          .map(i => spark.read.option("header", "true").option("escape", "\"")
            .csv(i: _*))
        boundary(ReferencePipeline.zeppSleepDaily(daily, naps, cfg.homeTz,
          Seq("naps"), intervals))
      }
    val zeppBody =
      if (!zeppExtracted) None
      else Some(zeppFiles("BODY")).filter(_.nonEmpty).map(fs =>
        ReferencePipeline.zeppBodyDaily(readCsv(spark, fs),
          cfg.tzCutover, cfg.tzBefore, cfg.tzAfter))
    val zeppHealth =
      if (!zeppExtracted) None
      else Some(zeppFiles("HEALTH_DATA")).filter(_.nonEmpty).map(fs =>
        ReferencePipeline.zeppHealthDaily(readCsv(spark, fs),
          cfg.tzCutover, cfg.tzBefore, cfg.tzAfter))
    // legacy zepp_daily_features consolidation (_merge_on_date)
    val zeppFeatures = Some(Seq(zeppCardio, zeppBody, zeppHealth).flatten)
      .filter(_.nonEmpty).map(ReferencePipeline.zeppDailyFeatures)
    val stage1 = Seq(
      ("apple/daily_cardio", appleCardio), ("apple/daily_sleep", appleSleep),
      ("apple/daily_activity", appleAct),
      ("apple/daily_meds_autoexport", meds),
      ("apple/daily_som_autoexport", som),
      ("zepp/daily_cardio", zeppCardio), ("zepp/daily_sleep", zeppSleep),
      ("zepp/zepp_daily_features", zeppFeatures))
    stage1.foreach { case (name, df) =>
      df.foreach(d => Sinks.atomicCsv(d, s"$joined/$name.csv"))
    }
    logs += StageLog(1, "aggregate",
      if (stage1.exists(_._2.isDefined)) "success" else "failed",
      stage1.collect { case (n, Some(_)) => n }.mkString(", "))
    if (!stage1.exists(_._2.isDefined)) return logs.toSeq

    // ---------- stage 2: unify ----------
    // Zepp sleep carries zepp_slp_* columns and no quality score; its total
    // is the unified sleep_hours (the alias the parity dump uses too)
    val zeppSleepUnify = zeppSleep.map(_.select(col("date"),
      col("zepp_slp_total_h").cast("double").as("sleep_hours"),
      lit(null).cast("double").as("sleep_quality_score")))
    val unified = boundary(ReferencePipeline.unifyAllDomains(
      ReferencePipeline.unifySleepDomains(appleSleep, zeppSleepUnify),
      ReferencePipeline.unifyCardioDomains(appleCardio, zeppCardio),
      ReferencePipeline.unifyActivityDomains(appleAct, None),
      ReferencePipeline.unifyMedsDomain(
        meds.map(m => "apple_autoexport" -> m).toSeq),
      ReferencePipeline.unifySomDomain(som)))
    boundary.release(stage1.flatMap(_._2): _*)
    Sinks.atomicCsv(unified, s"$joined/daily_unified.csv")
    logs += StageLog(2, "unify", "success",
      s"${unified.columns.length} cols")

    // ---------- stage 3: label ----------
    // unify_all's frame carries no provenance flags; labelDaily's quality
    // factor reads the canonical form's missing_/source_ columns. Derive
    // them with the same any-non-null rule unifyCanonical applies.
    def haveAny(names: String*): org.apache.spark.sql.Column =
      names.filter(unified.columns.contains).map(col(_).isNotNull)
        .reduceOption(_ || _).getOrElse(lit(false))
    val withProvenance = unified
      .withColumn("missing_sleep",
        (!haveAny("sleep_hours", "sleep_quality_score")).cast("int"))
      .withColumn("source_cardio",
        when(haveAny("hr_mean", "hr_min", "hr_max", "hr_std"), lit("merged"))
          .otherwise(lit("none")))
      .withColumn("missing_activity",
        (!haveAny("total_steps", "total_distance", "total_active_energy"))
          .cast("int"))
    val labeled = boundary(ReferencePipeline.labelDaily(withProvenance))
    boundary.release(unified)
    Sinks.atomicCsv(labeled, s"$joined/daily_labeled.csv")
    logs += StageLog(3, "label", "success", "pbsi labels attached")

    // ---------- stage 4: segment ----------
    val segments = ReferencePipeline.segmentAutolog(labeled)
    Sinks.atomicCsv(segments, s"$joined/segment_autolog.csv")
    logs += StageLog(4, "segment", "success", "segment_autolog written")

    // ---------- stage 5: ML prep ----------
    val generatedAt = java.time.Instant.now().toString
    val reported = StageLog(9, "report", "success", s"$outDir/RUN_REPORT.md")
    // the report-only exit: RUN_REPORT.md without a model section
    def reportOnly(stagesExecuted: String): Seq[StageLog] = {
      Sinks.atomicText(spark, s"$outDir/RUN_REPORT.md",
        Reports.runReportMd(labeled, participant, snapshot, stagesExecuted,
          generatedAt, None))
      (logs += reported).toSeq
    }
    if (!labeled.columns.contains("som_category_3class")) {
      logs += StageLog(5, "ml-prep", "skipped", "no SoM domain in snapshot")
      return reportOnly("0-4")
    }
    val features = Seq("sleep_hours", "sleep_quality_score", "hr_mean",
      "hr_std", "total_steps", "total_active_energy")
      .filter(labeled.columns.contains)
    val prepped = Impute.medianImpute(
      ReferencePipeline.mlPrep(labeled, cfg.mlCutoff),
      Seq("segment_id"), features)
    logs += StageLog(5, "ml-prep", "success",
      s"${features.size} features, median-imputed per segment")

    // ---------- stage 6: ML6 + extended families ----------
    // Both fold branches land on the same summary shape. The monthly
    // frame's bounds mirror the reference's build_month_windows: a
    // BOUNDED train window [train_start, val_start) and an EXCLUSIVE
    // val_end. The day-based branch summarizes actual role dates, so its
    // val_end is an inclusive max date — flagged per row so foldPreds
    // applies the right comparison.
    val foldFrame =
      if (cfg.foldsMonthly)
        Folds.calendarFoldsMonthly(prepped, "date", "som_binary")
          .select(col("fold_id"), col("train_start"), col("val_start"),
            col("val_end"), col("n_train"),
            lit(false).as("val_end_inclusive"))
      else
        Folds.calendarFolds(prepped, "date", cfg.trainDays, cfg.valDays,
          cfg.nFolds, cfg.valDays)
          .groupBy("fold_id")
          .agg(
            min(when(col("role") === "train", col("date"))).as("train_start"),
            min(when(col("role") === "val", col("date"))).as("val_start"),
            max(when(col("role") === "val", col("date"))).as("val_end"),
            sum(when(col("role") === "train", 1L).otherwise(0L)).as("n_train"))
          .filter(col("val_start").isNotNull)
          .withColumn("val_end_inclusive", lit(true))
    val foldRows = foldFrame
      .select("fold_id", "train_start", "val_start", "val_end", "n_train",
        "val_end_inclusive").collect()
    if (foldRows.isEmpty) {
      logs += StageLog(6, "ml6", "skipped", "no usable calendar folds")
      return reportOnly("0-5")
    }
    val families: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      "logreg_balanced" -> ((tr, va) =>
        Models.logisticRegression(tr, va, features, "som_binary")),
      "rf" -> ((tr, va) => Models.randomForest(tr, va, features,
        "som_binary", numTrees = 50, maxDepth = 6)),
      "gbt" -> ((tr, va) => Models.gbt(tr, va, features, "som_binary",
        maxIter = 20, maxDepth = 4)),
      "svc" -> ((tr, va) => Models.linearSvc(tr, va, features, "som_binary",
        maxIter = 30)))
    val typed = prepped.withColumn("som_binary",
      col("som_binary").cast("double"))
    // Per-fold train/val slices and the single-class fit guard, computed
    // ONCE and shared by all four families: each MLlib iteration rescans
    // its training frame and the class-count guard is a Spark job, so
    // leaving them inside foldPreds would replay both per family.
    val foldData = foldRows.toSeq.map { r =>
      val (fid, ts, vs, ve) =
        (r.getInt(0), r.getDate(1), r.getDate(2), r.getDate(3))
      val veInclusive = r.getBoolean(5)
      val train = boundary(
        if (ts == null) typed.filter(lit(false))
        else typed.filter(col("date") >= lit(ts) && col("date") < lit(vs)))
      val valD = boundary(typed.filter(col("date") >= lit(vs) &&
          (if (veInclusive) col("date") <= lit(ve) else col("date") < lit(ve))))
      // folds whose train side is single-class can't fit — skip, as the
      // reference's fold guard does
      val fittable = train.select("som_binary").na.drop().distinct().count() >= 2 &&
        !valD.isEmpty
      (fid, train, valD, fittable)
    }
    def foldPreds(fit: (DataFrame, DataFrame) => DataFrame): Option[DataFrame] = {
      val parts = foldData.flatMap { case (fid, train, valD, fittable) =>
        if (!fittable) None
        else Some(fit(train, valD)
          .select(lit(fid).as("fold_id"), col("date"),
            col("som_binary").cast("int").cast("string").as("y_true"),
            col("y_pred").cast("int").cast("string").as("y_pred_s")))
      }
      parts.reduceOption(_ unionByName _)
    }
    val classes = Seq("0", "1")
    // Actual per-fold training-set sizes (the bounded windows foldPreds
    // really trains on), so published artifacts don't fall back to the
    // total-minus-val identity that no longer matches.
    val trainCounts = {
      import spark.implicits._
      foldRows.toSeq.map(r => (r.getInt(0), r.getLong(4)))
        .toDF("fold_id", "n_train")
    }
    val primary = foldPreds(families.head._2)
    primary match {
      case Some(pred) =>
        val summary = Reports.writeArtifacts(labeled, pred, "fold_id",
          "y_true", "y_pred_s", "date", classes,
          model = families.head._1, featureSet = "FS-B",
          target = "som_binary", nFeatures = features.size,
          participant = participant, snapshot = snapshot,
          stagesExecuted = "0-9", generatedAt = generatedAt,
          outDir = outDir, trainCounts = Some(trainCounts))
        logs += StageLog(6, "ml6", "success",
          s"${summary.folds.size} folds, ${families.head._1}")
      case None =>
        logs += StageLog(6, "ml6", "skipped", "all folds single-class")
    }
    // ML6-extended: per-fold metric rows for every family, one frame
    val extended = families.flatMap { case (name, fit) =>
      foldPreds(fit).map(p =>
        Reports.perFoldMetrics(p, "fold_id", "y_true", "y_pred_s", "date",
          classes, Some(trainCounts)).withColumn("model", lit(name)))
    }
    extended.reduceOption(_ unionByName _).foreach { frame =>
      Sinks.atomicCsv(frame
        .select("model", "fold_id", "val_start", "val_end", "n_train",
          "n_val", "f1_macro", "balanced_accuracy", "cohen_kappa"),
        s"$outDir/metrics/ml6_extended_summary.csv")
      logs += StageLog(6, "ml6-ext", "success",
        s"${extended.size} families")
    }
    boundary.release(foldData.flatMap { case (_, tr, va, _) => Seq(tr, va) }: _*)
    logs += StageLog(7, "ml7-lstm", "skipped", "out of engine scope (SURVEY M5)")
    logs += StageLog(8, "tflite", "skipped", "out of engine scope (SURVEY M5)")
    // with a primary model, writeArtifacts already wrote the report
    if (primary.isEmpty) reportOnly("0-6") else (logs += reported).toSeq
  }
}
