package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Seeded input synthesis for every workload.
  *
  * `snapshot` writes the raw tree `RunPipeline` reads
  * (`<root>/P000001/apple/export/<name>.zip` and
  * `<root>/P000001/zepp/<name>.zip`) over
  * the reference's 2,828-day timeline, 2017-12-04 .. 2025-10-21. It
  * generalises the one-record-per-line shape of the engine's own fixtures
  * (RunPipelineSpec, IngestQueries.xmlFixture) to seeded per-day densities,
  * and returns the closed-form per-day values it put in, so the stage-1
  * daily CSVs can be checked exactly. `documents` writes a corpus table
  * shaped like the test data's `documents.parquet` (TESTDATA.md).
  */
object Synth {
  val First: LocalDate = LocalDate.of(2017, 12, 4)
  val SnapshotDate: LocalDate = LocalDate.of(2025, 10, 21)
  val Participant = "P000001"
  val ZeppPassword = "perfbench-zepp"
  private val TzCutover = LocalDate.of(2024, 1, 15)

  val HrType = "HKQuantityTypeIdentifierHeartRate"
  val HrvType = "HKQuantityTypeIdentifierHeartRateVariabilitySDNN"
  val SleepType = "HKCategoryTypeIdentifierSleepAnalysis"
  val StepsType = "HKQuantityTypeIdentifierStepCount"
  val DistanceType = "HKQuantityTypeIdentifierDistanceWalkingRunning"
  val EnergyType = "HKQuantityTypeIdentifierActiveEnergyBurned"
  val RecordTypes: Seq[String] =
    Seq(HrType, HrvType, SleepType, StepsType, DistanceType, EnergyType)

  /** Per-workload density. `somFrom`: first day with a State-of-Mind
    * entry (None = no StateOfMind.csv). `zeppFrom`: first day of the
    * encrypted Zepp export (None = no Zepp ZIP). */
  final case class Shape(hrPerDay: Int, somFrom: Option[LocalDate],
                         zeppFrom: Option[LocalDate])
  private val ZeppHrPerDay = 24

  /** What the generator put into one day (wall-clock date of the record
    * start). Distance is in metres and energy in tenths of a kcal so the
    * sums stay exact integers. */
  final case class DayFacts(date: LocalDate, hrN: Int, hrSum: Long, hrMin: Int,
                            hrMax: Int, steps: Long, distanceM: Long,
                            energyDk: Long, asleepMin: Int, inBedMin: Int)

  final case class Snapshot(rawRoot: Path, records: Long, days: Seq[DayFacts])

  def days: Seq[LocalDate] =
    Iterator.iterate(First)(_.plusDays(1)).takeWhile(!_.isAfter(SnapshotDate)).toSeq

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 1000003L + salt)

  private def offset(d: LocalDate): String = {
    val summer = d.getMonthValue >= 4 && d.getMonthValue <= 10
    if (d.isBefore(TzCutover)) (if (summer) "+0100" else "+0000")
    else (if (summer) "-0400" else "-0500")
  }

  private def two(i: Int): String = if (i < 10) "0" + i else i.toString

  /** `yyyy-MM-dd HH:mm:ss` for `secs` seconds after midnight of `d`
    * (may roll into the next day). */
  private def stamp(d: LocalDate, secs: Int): String = {
    val day = d.plusDays(secs / 86400L)
    val s = secs % 86400
    s"$day ${two(s / 3600)}:${two(s / 60 % 60)}:${two(s % 60)}"
  }

  private final class XmlOut(w: BufferedWriter) {
    var records = 0L
    def record(tpe: String, unit: String, d: LocalDate, startSec: Int,
               endSec: Int, value: String): Unit = {
      val tz = offset(d)
      val start = stamp(d, startSec)
      w.write("  <Record type=\""); w.write(tpe)
      w.write("\" sourceName=\"Apple Watch\" sourceVersion=\"10.1\" unit=\"")
      w.write(unit); w.write("\" creationDate=\""); w.write(stamp(d, endSec + 5))
      w.write(' '); w.write(tz); w.write("\" startDate=\""); w.write(start)
      w.write(' '); w.write(tz); w.write("\" endDate=\""); w.write(stamp(d, endSec))
      w.write(' '); w.write(tz); w.write("\" value=\""); w.write(value)
      w.write("\"/>\n")
      records += 1
    }
  }

  /** Write the raw snapshot tree under `root` and return its facts. */
  def snapshot(root: Path, seed: Long, shape: Shape): Snapshot = {
    val appleDir = root.resolve(s"$Participant/apple/export")
    Files.createDirectories(appleDir)
    val zipPath = appleDir.resolve(s"apple_health_export_$SnapshotDate.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    zos.setLevel(Deflater.BEST_SPEED)
    val w = new BufferedWriter(new OutputStreamWriter(zos, UTF_8), 1 << 16)
    def entry(name: String)(body: => Unit): Unit = {
      zos.putNextEntry(new ZipEntry(s"apple_health_export/$name"))
      body
      w.flush()
      zos.closeEntry()
    }
    val out = new XmlOut(w)
    val facts = scala.collection.mutable.ArrayBuffer[DayFacts]()
    entry("export.xml") {
      w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      w.write("<HealthData locale=\"en_US\">\n")
      w.write(s""" <ExportDate value="$SnapshotDate 23:59:00 +0000"/>\n""")
      days.zipWithIndex.foreach { case (d, i) =>
        val r = rng(seed, i)
        // heart rate: jittered density spread over the waking day
        val n = math.max(1, shape.hrPerDay + r.nextInt(-shape.hrPerDay / 5,
          shape.hrPerDay / 5 + 1))
        var sum = 0L; var lo = Int.MaxValue; var hi = Int.MinValue
        (0 until n).foreach { k =>
          val v = 48 + r.nextInt(110)
          sum += v; lo = math.min(lo, v); hi = math.max(hi, v)
          val t = 6 * 3600 + (k.toLong * 16 * 3600 / n).toInt + r.nextInt(30)
          out.record(HrType, "count/min", d, t, t, v.toString)
        }
        (0 until 1 + r.nextInt(2)).foreach { k =>
          val t = 3 * 3600 + k * 1800
          out.record(HrvType, "ms", d, t, t + 60, (20 + r.nextInt(100)).toString)
        }
        // sleep: one in-bed and two asleep intervals, all starting on d (the
        // daily sleep table dates an interval by its start)
        val bedStart = 22 * 3600 + r.nextInt(60) * 60
        val inBed = 420 + r.nextInt(120)
        val asleepA = 120 + r.nextInt(60)
        val asleepB = 180 + r.nextInt(inBed - asleepA - 180 + 1)
        out.record(SleepType, "", d, bedStart, bedStart + inBed * 60,
          "HKCategoryValueSleepAnalysisInBed")
        out.record(SleepType, "", d, bedStart + 600, bedStart + 600 + asleepA * 60,
          "HKCategoryValueSleepAnalysisAsleepCore")
        out.record(SleepType, "", d, bedStart + 1200, bedStart + 1200 + asleepB * 60,
          "HKCategoryValueSleepAnalysisAsleepREM")
        // activity: a few step / distance / energy bouts
        var steps = 0L; var metres = 0L; var energy = 0L
        (0 until 1 + r.nextInt(3)).foreach { k =>
          val t = 7 * 3600 + k * 5400 + r.nextInt(600)
          val s = 100 + r.nextInt(2400)
          val m = s * 7 / 10 + r.nextInt(50)
          val e = 50 + r.nextInt(900)
          steps += s; metres += m; energy += e
          out.record(StepsType, "count", d, t, t + 900, s.toString)
          out.record(DistanceType, "km", d, t, t + 900,
            s"${m / 1000}.${"%03d".format(m % 1000)}")
          out.record(EnergyType, "kcal", d, t, t + 900, s"${e / 10}.${e % 10}")
        }
        facts += DayFacts(d, n, sum, lo, hi, steps, metres, energy,
          asleepA + asleepB, inBed)
      }
      w.write("</HealthData>\n")
    }
    val xmlRecords = out.records
    var csvRows = 0L
    entry("Medications.csv") {
      w.write("Date,Medication,Nickname,Dosage,Unit,Status,Archived,Codings\n")
      days.zipWithIndex.foreach { case (d, i) =>
        val r = rng(seed, 1L << 20 | i)
        if (r.nextInt(4) != 0) {
          val status = if (r.nextInt(10) == 0) "Skipped" else "Taken"
          w.write(s"$d 09:00:00 ${offset(d)},Sertraline,,50,mg,$status,No,\n")
          csvRows += 1
        }
        if (r.nextInt(3) == 0) {
          w.write(s"$d 21:00:00 ${offset(d)},Lamotrigine,,25,mg,Taken,No,\n")
          csvRows += 1
        }
      }
    }
    shape.somFrom.foreach { from =>
      val labels = Array("Calm", "Happy", "Stressed", "Tired", "Anxious", "Content")
      val assoc = Array("Work", "Family", "Health", "Fitness", "Sleep")
      entry("StateOfMind.csv") {
        w.write("Start,End,Kind,Labels,Associations,Valence,Valence Classification\n")
        days.zipWithIndex.filter(!_._1.isBefore(from)).foreach { case (d, i) =>
          val r = rng(seed, 5L << 20 | i)
          val v = valence(seed, i)
          val kind = if (r.nextInt(5) == 0) "Momentary Emotion" else "Daily Mood"
          val lab = labels(r.nextInt(labels.length)) +
            (if (r.nextBoolean()) "|" + labels(r.nextInt(labels.length)) else "")
          w.write(s"$d ${two(8 + r.nextInt(12))}:00:00 ${offset(d)},,$kind,$lab," +
            s"${assoc(r.nextInt(assoc.length))},$v,\n")
          csvRows += 1
        }
      }
    }
    w.close()
    val zeppRows = shape.zeppFrom.map(from => zepp(root, seed, from)).getOrElse(0L)
    Snapshot(root, xmlRecords + csvRows + zeppRows, facts.toSeq)
  }

  /** State-of-Mind valence of timeline day `i` (-1 .. 1), whether or
    * not the snapshot carries a StateOfMind.csv. */
  def valence(seed: Long, i: Int): Double =
    (rng(seed, 2L << 20 | i).nextInt(2001) - 1000) / 1000.0

  /** ZipCrypto-encrypted Zepp cloud export (HEARTRATE_AUTO CSV), written
    * by the system `zip` tool, mtime set before the snapshot so the
    * stage-0 mtime rule selects it. Returns the CSV data rows. */
  private def zepp(root: Path, seed: Long, from: LocalDate): Long = {
    val zeppDir = root.resolve(s"$Participant/zepp")
    val staging = root.resolve("zepp_staging")
    Files.createDirectories(zeppDir)
    Files.createDirectories(staging.resolve("HEARTRATE_AUTO"))
    var rows = 0L
    val hr = Files.newBufferedWriter(staging.resolve("HEARTRATE_AUTO/HEARTRATE_AUTO_1.csv"))
    hr.write("time,heartRate\n")
    days.zipWithIndex.filter(!_._1.isBefore(from)).foreach { case (d, i) =>
      val r = rng(seed, 3L << 20 | i)
      (0 until ZeppHrPerDay).foreach { k =>
        hr.write(s"${stamp(d, k * 86400 / ZeppHrPerDay + r.nextInt(60))}," +
          s"${50 + r.nextInt(100)}\n")
        rows += 1
      }
    }
    hr.close()
    val zip = zeppDir.resolve(s"zepp_export_$SnapshotDate.zip")
    val p = new ProcessBuilder("zip", "-q", "-r", "-P", ZeppPassword,
        zip.toAbsolutePath.toString, "HEARTRATE_AUTO")
      .directory(staging.toFile).inheritIO().start()
    require(p.waitFor() == 0, s"zip -P exited ${p.exitValue()}")
    Files.setLastModifiedTime(zip, FileTime.from(
      SnapshotDate.atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
    deleteTree(staging)
    rows
  }

  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "zh", "es", "de", "fr")

  /** `documents.parquet` (doc_id, text, lang, source, n_chars) with `n`
    * seeded docs over the engine fixture's 31-word vocabulary; about one
    * doc in twelve copies an earlier one, and as many more copy one with
    * a single word swapped, so every dedup stage has work. */
  def documents(spark: SparkSession, dir: Path, seed: Long, n: Int): Unit = {
    val r = rng(seed, 4L << 20)
    val texts = new Array[String](n)
    val rows = (0 until n).map { id =>
      val roll = r.nextInt(12)
      texts(id) =
        if (id > 20 && roll == 0) texts(r.nextInt(id))
        else if (id > 20 && roll == 1) {
          val ws = texts(r.nextInt(id)).split(' ')
          ws(r.nextInt(ws.length)) = Vocab(r.nextInt(Vocab.length))
          ws.mkString(" ")
        } else
          Seq.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      (id.toLong, texts(id), Langs(r.nextInt(Langs.length)), s"src${id % 20}",
        texts(id).length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
}
