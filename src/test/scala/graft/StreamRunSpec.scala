package graft

import java.nio.file.{Files, Paths}

import graft.streaming.StreamRun
import org.apache.spark.sql.functions.{assert_true, col}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}
import scala.jdk.CollectionConverters._

/** The streaming run policy: every run the library drives to completion
  * leaves no active query, no temp view and no temp root behind, whether
  * it returns or throws. */
class StreamRunSpec extends SparkTestBase {
  private def graftViews: Set[String] = spark.catalog.listTables().collect()
    .filter(_.isTemporary).map(_.name).filter(_.startsWith("graft_")).toSet

  /** Temp roots a run labelled `label` left under the JVM's temp dir. */
  private def roots(label: String): List[String] =
    Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(s"graft_${label}_")).toList

  test("memory-sink runs leave no graft_ temp view, and their frames keep their rows") {
    val before = graftViews
    val tumbling = Seq.fill(2)(SparkEntry.queries("stream_tumbling")(spark, Sf))
    val drift = SparkEntry.queries("stream_dist_drift")(spark, Sf)
    assert(graftViews -- before == Set.empty[String])
    val nWindows = operators.EventsQueries.queries("events_tumbling")(spark, Sf).count()
    tumbling.foreach(f => assert(f.count() == nWindows && nWindows > 0))
    assert(drift.count() == SparkEntry.queries("diff_dist_drift")(spark, Sf).count())
  }

  test("a failing run rethrows and leaves no query, view or temp root; the next run is clean") {
    val before = graftViews
    def failing = Tables.stream(spark, Sf, "region")
      .filter(assert_true(col("r_regionkey") < 0).isNull)
    intercept[StreamingQueryException](
      StreamRun.parquet(failing, "fail_probe")(_ => fail("use ran after a failed drain")))
    intercept[StreamingQueryException](
      StreamRun.memory(failing, OutputMode.Append, "fail_probe"))
    assert(spark.streams.active.isEmpty)
    assert(graftViews -- before == Set.empty[String])
    assert(roots("fail_probe").isEmpty, roots("fail_probe"))
    // the same label runs again under a fresh name and root
    val region = StreamRun.memory(Tables.stream(spark, Sf, "region"), OutputMode.Append,
      "fail_probe")
    assert(region.count() == Tables.load(spark, Sf, "region").count())
    assert(spark.streams.active.isEmpty && roots("fail_probe").isEmpty)
  }

  test("graft.streaming starts, drains and cleans up queries only through StreamRun") {
    val dir = Paths.get("src/main/scala/graft/streaming")
    val sources = Files.list(dir).iterator().asScala.toList
      .map(p => p.getFileName.toString -> Files.readString(p))
    def filesWith(s: String) = sources.collect { case (n, t) if t.contains(s) => n }.toSet
    Seq("writeStream", "processAllAvailable", "createTempDirectory").foreach { s =>
      assert(filesWith(s) == Set("StreamRun.scala"), s)
    }
    Seq("Files.walk", "case _: Throwable => ()").foreach { s =>
      assert(filesWith(s).isEmpty, s)
    }
  }
}
