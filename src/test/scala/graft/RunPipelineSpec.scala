package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkInternals
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.RunPipeline

/** End-to-end snapshot orchestration: raw ZIP in → artifact tree out.
  * The fixture is a reference-shaped snapshot (HealthAutoExport ZIP with
  * export.xml + Medications.csv + StateOfMind.csv), spanning eight
  * months so the reference's monthly calendar folds produce real
  * train/val splits; variants drop StateOfMind.csv or add a Zepp ZIP
  * with a SLEEP table. Stage functions themselves are parity-pinned by
  * tools/reference_parity.py; this spec pins the COMPOSITION — stage
  * order, file layout, skip semantics, the report tree, byte-identical
  * reruns, and that stage boundaries are built once and released. */
class RunPipelineSpec extends SparkTestBase {

  private def writeZip(path: Path, entries: Seq[(String, String)]): Unit = {
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    try entries.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  /** Zepp SLEEP days: the week before the Apple export, then three days
    * Apple also covers. Day i sleeps 90 + 15i deep, 240 light and 60 REM
    * minutes, so its total is 6.5 + 0.25i hours, exact in float. */
  private val ZeppSleepDays =
    (0 until 10).map(java.time.LocalDate.of(2023, 12, 25).plusDays(_))
  private def zeppSleepHours(i: Int): Double = 6.5 + 0.25 * i

  /** Writes the raw tree into a fresh temp dir (under `parent` if given)
    * and returns (rawRoot, outDir). `som` puts StateOfMind.csv into the
    * Apple ZIP; `zeppSleep` adds a plain Zepp cloud ZIP holding only a
    * SLEEP table over [[ZeppSleepDays]]. */
  private def buildFixture(som: Boolean = true, zeppSleep: Boolean = false,
                           parent: Option[Path] = None): (String, String) = {
    parent.foreach(Files.createDirectories(_))
    val root = parent.fold(Files.createTempDirectory("graft-runpipe"))(
      Files.createTempDirectory(_, "graft-runpipe")).toString
    val rawDir = Paths.get(root, "raw", "P000001", "apple", "export")
    Files.createDirectories(rawDir)
    val days = (0 until 244).map(java.time.LocalDate.of(2024, 1, 1).plusDays(_))
    val xml = new StringBuilder
    xml ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<HealthData locale=\"en_US\">\n"
    days.zipWithIndex.foreach { case (d, i) =>
      val hr = 60 + i % 40
      val hrv = 30 + (i * 7) % 50
      val steps = 4000 + (i * 131) % 6000
      val asleepMin = 330 + (i * 17) % 120
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierHeartRate" value="$hr" startDate="$d 08:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierHeartRate" value="${hr + 12}" startDate="$d 18:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierHeartRateVariabilitySDNN" value="$hrv" startDate="$d 07:30:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKCategoryTypeIdentifierSleepAnalysis" value="HKCategoryValueSleepAnalysisInBed" startDate="$d 22:00:00 +0000" endDate="${d.plusDays(1)} 06:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKCategoryTypeIdentifierSleepAnalysis" value="HKCategoryValueSleepAnalysisAsleep" startDate="$d 23:00:00 +0000" endDate="$d 23:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKCategoryTypeIdentifierSleepAnalysis" value="HKCategoryValueSleepAnalysisAsleep" startDate="${d.plusDays(1)} 00:00:00 +0000" endDate="${d.plusDays(1)} 0${asleepMin / 60}:${f"${asleepMin % 60}%02d"}:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierStepCount" value="$steps" startDate="$d 12:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierDistanceWalkingRunning" value="${steps / 1300.0}" startDate="$d 12:00:00 +0000"/>\n"""
      xml ++= s"""  <Record type="HKQuantityTypeIdentifierActiveEnergyBurned" value="${200 + i % 300}" startDate="$d 13:00:00 +0000"/>\n"""
    }
    xml ++= "</HealthData>\n"

    val meds = new StringBuilder
    meds ++= "Date,Medication,Nickname,Dosage,Unit,Status,Archived,Codings\n"
    days.zipWithIndex.foreach { case (d, i) =>
      if (i % 2 == 0)
        meds ++= s"$d 09:00:00 +0000,Sertraline,,50,mg,Taken,No,\n"
    }

    val somCsv = new StringBuilder
    somCsv ++= "Start,End,Kind,Labels,Associations,Valence,Valence Classification\n"
    days.zipWithIndex.foreach { case (d, i) =>
      val valence = if (i % 3 == 0) -0.8 else 0.5 // mixes the 3-class label
      somCsv ++= s"$d 10:00:00 +0000,,Daily Mood,Calm,Work,$valence,\n"
    }

    writeZip(rawDir.resolve("HealthAutoExport-2024-08-31.zip"),
      Seq("apple_health_export/export.xml" -> xml.toString,
        "apple_health_export/Medications.csv" -> meds.toString) ++
        (if (som) Seq("apple_health_export/StateOfMind.csv" -> somCsv.toString)
         else Nil))

    if (zeppSleep) {
      val zeppDir = Paths.get(root, "raw", "P000001", "zepp")
      Files.createDirectories(zeppDir)
      val sleep = new StringBuilder("date,deepSleepTime,shallowSleepTime,REMTime\n")
      ZeppSleepDays.zipWithIndex.foreach { case (d, i) =>
        sleep ++= s"$d,${90 + 15 * i},240,60\n"
      }
      val zip = zeppDir.resolve("zepp-cloud-20240831.zip")
      writeZip(zip, Seq("SLEEP/SLEEP_1725062400.csv" -> sleep.toString))
      // stage 0 takes the newest Zepp ZIP modified by the snapshot day
      Files.setLastModifiedTime(zip, FileTime.from(
        java.time.Instant.parse("2024-08-31T00:00:00Z")))
    }

    (s"$root/raw", s"$root/out")
  }

  test("RunPipeline: snapshot ZIP in -> full artifact tree out, stages 0-9") {
    val (rawRoot, outDir) = buildFixture()
    val logs = RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir)
    val byStage = logs.map(l => (l.stage, l.name) -> l.status).toMap
    assert(byStage((0, "ingest")) === "success", logs.mkString("\n"))
    assert(byStage((1, "aggregate")) === "success", logs.mkString("\n"))
    assert(byStage((2, "unify")) === "success")
    assert(byStage((3, "label")) === "success")
    assert(byStage((4, "segment")) === "success")
    assert(byStage((5, "ml-prep")) === "success", logs.mkString("\n"))
    assert(byStage((6, "ml6")) === "success", logs.mkString("\n"))
    assert(byStage((7, "ml7-lstm")) === "skipped")
    assert(byStage((8, "tflite")) === "skipped")
    assert(byStage((9, "report")) === "success")

    // the artifact tree the reference's stages 1-9 leave behind
    def exists(p: String) = Files.exists(Paths.get(p))
    for (f <- Seq(
        s"$outDir/joined/apple/daily_cardio.csv",
        s"$outDir/joined/apple/daily_sleep.csv",
        s"$outDir/joined/apple/daily_activity.csv",
        s"$outDir/joined/apple/daily_meds_autoexport.csv",
        s"$outDir/joined/apple/daily_som_autoexport.csv",
        s"$outDir/joined/daily_unified.csv",
        s"$outDir/joined/daily_labeled.csv",
        s"$outDir/joined/segment_autolog.csv",
        s"$outDir/cv_summary.json",
        s"$outDir/confusion_matrices/cm_logreg_balanced_som_binary.json",
        s"$outDir/metrics/per_class_logreg_balanced_som_binary.csv",
        s"$outDir/metrics/ml6_extended_summary.csv",
        s"$outDir/RUN_REPORT.md"))
      assert(exists(f), s"missing artifact: $f\n${logs.mkString("\n")}")

    // cv_summary carries the reference's summary fields
    val cv = new String(Files.readAllBytes(Paths.get(s"$outDir/cv_summary.json")), "UTF-8")
    assert(cv.contains("\"model\": \"logreg_balanced\""))
    assert(cv.contains("\"target\": \"som_binary\""))
    assert(cv.contains("\"folds\""))

    // the extended frame has per-fold rows for all four families
    val ext = scala.io.Source.fromFile(s"$outDir/metrics/ml6_extended_summary.csv")
      .getLines().toSeq
    val models = ext.drop(1).map(_.split(",")(0)).distinct.sorted
    assert(models === Seq("gbt", "logreg_balanced", "rf", "svc"),
      s"extended families: $models")

    // published n_train must be the BOUNDED monthly train window the
    // folds actually train on (4 calendar months = at most 123 days),
    // not the all-non-val identity (~213 days on this 244-day fixture)
    val header = ext.head.split(",").zipWithIndex.toMap
    val nTrains = ext.drop(1).map(_.split(",")(header("n_train")).toLong)
    assert(nTrains.forall(n => n > 0 && n <= 123),
      s"n_train not bounded-window sized: $nTrains")

    // unified carries all five domains
    val unifiedHeader = scala.io.Source
      .fromFile(s"$outDir/joined/daily_unified.csv").getLines().next()
    for (c <- Seq("sleep_hours", "hr_mean", "total_steps", "med_any",
        "som_category_3class"))
      assert(unifiedHeader.contains(c), s"unified missing $c")

    val report = new String(Files.readAllBytes(Paths.get(s"$outDir/RUN_REPORT.md")), "UTF-8")
    assert(report.contains("P000001") && report.contains("2024-08-31"))
  }

  test("RunPipeline: SoM-less snapshot degrades to stages 0-4 + report") {
    val (rawRoot, outDir) = buildFixture(som = false)
    val logs = RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir)
    val byStage = logs.map(l => (l.stage, l.name) -> l.status).toMap
    assert(byStage((4, "segment")) === "success")
    assert(byStage((5, "ml-prep")) === "skipped")
    assert(byStage((9, "report")) === "success")
    assert(Files.exists(Paths.get(s"$outDir/RUN_REPORT.md")))
    assert(!Files.exists(Paths.get(s"$outDir/cv_summary.json")))
  }

  /** SHA-256 of every file under `outDir` by relative path. Hadoop `.crc`
    * sidecars are skipped and RUN_REPORT.md's `**Generated**:` line, which
    * stamps the wall clock, is masked. */
  private def artifactHashes(outDir: String): Map[String, String] = {
    val root = Paths.get(outDir)
    val files = scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).toList)
    files.filterNot(_.getFileName.toString.endsWith(".crc")).map { p =>
      val rel = root.relativize(p).toString
      val bytes =
        if (rel != "RUN_REPORT.md") Files.readAllBytes(p)
        else new String(Files.readAllBytes(p), "UTF-8").split("\n", -1)
          .map(l => if (l.startsWith("**Generated**:")) "**Generated**:" else l)
          .mkString("\n").getBytes("UTF-8")
      rel -> java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map(b => f"${b & 0xff}%02x").mkString
    }.toMap
  }

  /** Artifact hashes of the SoM-less fixture, recorded before stage
    * boundaries were materialised: materialising must not move a byte. */
  private val SomLessHashes: Map[String, String] = Map(
    "RUN_REPORT.md" -> "522948e6404cb164719f428f6b8ab06533ab659aa43703354018654abe65cfa7",
    "extracted/apple/apple_health_export/Medications.csv" -> "3dbaee11310b488c4504d97a9d28151df78c89b93b2bdf4f09dbcfdd3d8e9fec",
    "extracted/apple/apple_health_export/export.xml" -> "a15688e9eb190c4b9ae0c731437ee567bf18191f1a59145346b0b7320489c35e",
    "joined/apple/daily_activity.csv" -> "847c54997f27e38d32debf80fccbc84d922076617c3428659da0adedb3f60226",
    "joined/apple/daily_cardio.csv" -> "3c7c919973c563083e254672beaa3df61770e289b0f031736238ec025f08c57c",
    "joined/apple/daily_meds_autoexport.csv" -> "622d5a6c543acacbd8b4d39e4644ff4190dcc8612c9373ef206e4465faa84c76",
    "joined/apple/daily_sleep.csv" -> "b9c8e862bdc8907350c8747ca6b255003f7a1015f4c15ca77c650d5d468f6fd9",
    "joined/daily_labeled.csv" -> "1decfba8419955e77bba0632f3912b3ad7c7632691d3db072f53b868028ac25e",
    "joined/daily_unified.csv" -> "d46aea593fb36a481118e0676fb3eff1d49f3eaba2f2fbfa790817208b91155d",
    "joined/segment_autolog.csv" -> "dd6160aaf85014b475ae2b7c49dffd6f6f5fe286e0e3e2c3cb116398bc063d80")

  private def persistedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("RunPipeline: SoM-less reruns reproduce the pinned artifact bytes") {
    val (rawRoot, outDir) = buildFixture(som = false)
    for (run <- Seq("first", "second")) {
      val out = s"$outDir-$run"
      val before = persistedRdds
      RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", out)
      // every stage boundary the run materialised is released on return
      assert((persistedRdds -- before).isEmpty)
      val got = artifactHashes(out)
      assert(got === SomLessHashes, got.toSeq.sorted
        .map { case (k, v) => s""""$k" -> "$v",""" }.mkString("\n", "\n", ""))
    }
  }

  private def scansExportXml(qe: QueryExecution, under: String): Boolean =
    qe.analyzed.exists {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.location.inputFiles
          .exists(f => f.contains(under) && f.endsWith("/export.xml"))
        case _ => false
      }
      case _ => false
    }

  test("RunPipeline: only the stage-1 materialisations scan export.xml") {
    val (rawRoot, outDir) = buildFixture()
    val xmlQueries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val before = persistedRdds
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (scansExportXml(qe, outDir)) xmlQueries.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        if (scansExportXml(qe, outDir)) xmlQueries.add(funcName)
    }
    spark.listenerManager.register(listener)
    val logs =
      try {
        val l = RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir)
        SparkInternals.drainListeners(spark.sparkContext)
        l
      } finally spark.listenerManager.unregister(listener)
    assert(logs.exists(l => l.stage == 6 && l.status == "success"),
      logs.mkString("\n"))
    // one eager checkpoint each for Apple cardio, sleep and activity; any
    // later query reading the XML would add a name here
    assert(xmlQueries.asScala.toSeq === Seq.fill(3)("localCheckpoint"))
    // the fold slices and labeled are released too; what stays persisted
    // belongs to library operators (Reports keeps its prediction frame)
    val leftSites = (persistedRdds -- before).toSeq
      .map(id => SparkInternals.creationSite(spark.sparkContext.getPersistentRDDs(id)))
    assert(!leftSites.exists(_.contains("RunPipeline.scala")), leftSites)
  }

  private def dailyColumn(csv: String, column: String): Map[String, String] =
    spark.read.option("header", "true").csv(csv).select("date", column)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** Stages 0-4 ran, and the unified sleep column takes Zepp's value on
    * the days Apple lacks and Apple's where both report. */
  private def assertZeppSleepUnified(logs: Seq[RunPipeline.StageLog],
                                     outDir: String): Unit = {
    val byStage = logs.map(l => (l.stage, l.name) -> l.status).toMap
    for (s <- Seq((0, "ingest"), (1, "aggregate"), (2, "unify"), (3, "label"),
        (4, "segment"), (9, "report")))
      assert(byStage.get(s).contains("success"), logs.mkString("\n"))
    assert(logs.head.detail.endsWith("zepp=zepp-cloud-20240831.zip"), logs.head)
    assert(Files.exists(Paths.get(s"$outDir/joined/zepp/daily_sleep.csv")))
    val unified = dailyColumn(s"$outDir/joined/daily_unified.csv", "sleep_hours")
    val apple = dailyColumn(s"$outDir/joined/apple/daily_sleep.csv", "sleep_hours")
    ZeppSleepDays.zipWithIndex.foreach { case (d, i) =>
      val want = apple.getOrElse(d.toString, zeppSleepHours(i).toString)
      assert(unified.get(d.toString).map(_.toDouble) === Some(want.toDouble),
        s"sleep_hours on $d")
    }
    assert(apple.keySet.contains("2024-01-02") && !apple.contains("2023-12-31"))
  }

  test("RunPipeline: a Zepp SLEEP table fills unified sleep where Apple has none") {
    val (rawRoot, outDir) = buildFixture(som = false, zeppSleep = true)
    assertZeppSleepUnified(
      RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir), outDir)
  }

  test("RunPipeline: Zepp daily sleep is kept under a snapshots/ directory") {
    // "snapshots" contains "naps": the naps/intervals split must look at
    // file names, not at the directories above them
    val parent = Files.createTempDirectory("graft-runpipe").resolve("snapshots")
    val (rawRoot, outDir) =
      buildFixture(som = false, zeppSleep = true, parent = Some(parent))
    assertZeppSleepUnified(
      RunPipeline.run(spark, rawRoot, "P000001", "2024-08-31", outDir), outDir)
  }
}
