package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one client, one job at a time.
  *
  * usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --result FILE --reference FILE
  *
  * Setup (input synthesis, three times, median; plus session creation)
  * is timed apart from the job. The first run, in a fresh JVM and
  * session, warms it up: JIT and code generation are paid there, and its
  * wall is kept but not reported end to end. The measured runs follow:
  * one, and more while their job time is under --seconds; the figures are
  * medians over them. With `--trace 1` the one measured run carries the
  * listeners, the per-layer figures are cut from it, and direct calls
  * into layer functions follow. Every run's outputs (the warm-up's too)
  * are checked outside its timed window; the first
  * passing invocation for a seed writes the output fingerprint to the
  * reference FILE and later ones must reproduce it. The result is one
  * JSON object written to FILE.
  */
object Main {
  final case class RunStat(wall: Double, cpu: Double, gc: Double, jit: Double,
                           problems: Seq[String])

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = os.getProcessCpuTime / 1e9
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  private def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val result = Paths.get(opt("result")).toAbsolutePath
    val reference = Paths.get(opt("reference")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)
    if (Files.exists(reference))
      workload.reference = Some(Files.readAllLines(reference, UTF_8).asScala
        .filter(_.nonEmpty).map(_.split("\t", 2)).map(a => a(0) -> a(1)).toMap)

    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val synthS = (0 until 3).map { i =>
      val dir = work.resolve(s"input$i")
      val s0 = System.nanoTime()
      workload.prepare(spark, dir, seed)
      (System.nanoTime() - s0) / 1e9
    }
    (0 until 2).foreach(i => Synth.deleteTree(work.resolve(s"input$i")))
    val setupS = sessionS + median(synthS)

    var runNo = 0
    def timedRun(probe: Option[Probe], keep: Boolean = false): (RunStat, Path, Long, Long) = {
      val out = work.resolve(s"run$runNo"); runNo += 1
      probe.foreach { p => p.drain(); p.reset() }
      val (c0, g0, j0) = (cpuS, gcS, jitS)
      val e0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val thrown =
        try { workload.run(spark, out); None }
        catch { case e: Exception => Some(s"run threw ${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - n0) / 1e9
      val e1 = System.currentTimeMillis()
      val stat = RunStat(wall, cpuS - c0, gcS - g0, jitS - j0, Nil)
      val problems = thrown.toSeq ++ (if (thrown.isEmpty) workload.check(out) else Nil)
      if (!keep) Synth.deleteTree(out)
      (stat.copy(problems = problems), out, e0, e1)
    }

    val lines = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def metric(name: String, v: Double, unit: String): Unit =
      lines += name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> s""""$unit""""))
    // the cold job of this JVM warms it up; checked, not reported end to end
    val (cold, _, _, _) = timedRun(None)
    val probe = if (trace) Some(new Probe(spark)) else None
    val layers = new Layers(spark, workload, seed, work, metric)
    probe.foreach(_.attach())
    val (first, out, e0, e1) = timedRun(probe, keep = trace)
    val retainedMb = { System.gc(); Thread.sleep(300); System.gc(); heapUsedMb }
    val runs = scala.collection.mutable.ArrayBuffer(cold, first)

    probe match {
      case None =>
        // measured runs: the first and more while their job time is under
        // --seconds; every figure is a median over them
        val measured = scala.collection.mutable.ArrayBuffer(first)
        while (measured.map(_.wall).sum < seconds) {
          val (s, _, _, _) = timedRun(None)
          measured += s; runs += s
        }
        val wall = median(measured.map(_.wall).toSeq)
        metric("wall_s", wall, "s")
        metric("records_per_s", workload.inputRecords / wall, "1/s")
        metric("retained_heap_mb", retainedMb, "MB")
        metric("setup_s", setupS, "s")
      case Some(p) =>
        p.drain()
        layers.fromRun(p, out, e0, e1).toSeq.sortBy(_._1)
          .foreach { case (k, v) => metric(k, v, Layers.unit(k)) }
        p.detach()
        layers.direct(out)
        layers.emitDirect()
        Synth.deleteTree(out)
        metric("jvm.cpu_s", first.cpu, "s")
        metric("jvm.gc_s", first.gc, "s")
        metric("jvm.jit_compile_s", first.jit, "s")
        metric("jvm.heap_peak_mb", heapPeakMb, "MB")
        metric("jvm.cold_wall_s", cold.wall, "s")
        metric("jvm.cold_jit_compile_s", cold.jit, "s")
        Files.write(result.resolveSibling(result.getFileName.toString + ".spans.json"),
          layers.recorder.json.getBytes(UTF_8))
    }
    if (runs.forall(_.problems.isEmpty) && !Files.exists(reference))
      workload.reference.foreach(ref => Files.write(reference,
        ref.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n")
          .getBytes(UTF_8)))

    workload match {
      case c: CorpusWorkload =>
        // one query per invocation, rotating with the seed
        c.writeOracleInputs(spark, work.resolve("oracle"),
          Seq(c.queries((seed % c.queries.size).toInt)))
      case _ =>
    }
    spark.stop()
    val failed = runs.count(_.problems.nonEmpty)
    val problems = runs.flatMap(_.problems).distinct.take(20)
    val json = Json.obj(Seq(
      "attempted" -> runs.size.toString,
      "failed" -> failed.toString,
      "problems" -> problems.map(p => "\"" + Json.esc(p) + "\"").mkString("[", ", ", "]"),
      "first_wall_s" -> Json.num(first.wall),
      "runs" -> runs.map(r => Json.num(r.wall)).mkString("[", ", ", "]"),
      "run_cpu" -> runs.map(r => Json.num(r.cpu)).mkString("[", ", ", "]"),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "synth_s" -> synthS.map(Json.num).mkString("[", ", ", "]"))),
      "metrics" -> Json.obj(lines.toSeq)))
    Files.write(result, json.getBytes(UTF_8))
  }
}
