package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.core.Sessions

/** `core.Sessions` is the one session builder: pin the settings every
  * entry point and the test session get from it, and guard that no
  * other source builds its own session or reads the core-count knob. */
class SessionsSpec extends SparkTestBase {

  test("Sessions.local(4): UTC, 4 shuffle partitions, UI off, local[4]") {
    val s = Sessions.local(4)
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(s.sparkContext.master === "local[4]")
  }

  private def sourcesContaining(needle: String): Seq[String] =
    Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      scala.util.Using.resource(Files.walk(dir))(_.iterator.asScala.toList)
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .filter(p => Files.readString(p).contains(needle))
        .map((p: Path) => dir.relativize(p).toString)
    }

  // the needles are split so this file does not match itself
  test("no source other than core/Sessions.scala builds a SparkSession") {
    assert(sourcesContaining("SparkSession" + ".builder") ===
      Seq("graft/core/Sessions.scala"))
  }

  test("no source other than core/Sessions.scala reads SPARK_GRAFT_CPUS") {
    assert(sourcesContaining("\"SPARK_GRAFT_" + "CPUS\"") ===
      Seq("graft/core/Sessions.scala"))
  }
}
