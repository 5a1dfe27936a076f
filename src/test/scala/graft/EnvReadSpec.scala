package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The process environment and system properties are read only by the
  * mains. A library object that reads one while it initializes fails every
  * query that touches it on a bad value, and no caller sees the knob. */
class EnvReadSpec extends AnyFunSuite {
  test("sys.env, System.getenv and sys.props appear in src/main only in the mains and ReportSink's os.name default") {
    val mains = Set("Bench.scala", "Verify.scala", "PlanDump.scala", "ScaleUp.scala",
      "RecallProbe.scala", "DbDiffMain.scala")
    val reads = Seq("sys.env", "System.getenv", "sys.props")
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(Files.isRegularFile(_)).toList
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if reads.exists(line.contains) =>
            (p.getFileName.toString, i + 1, line.trim)
        }
      }
      .filterNot { case (file, _, line) =>
        mains(file) ||
          (file == "ReportSink.scala" && line.contains("sys.props.getOrElse(\"os.name\""))
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
