package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite. Staging directories from
  * [[tempDir]] and the `graft_` temp views the suite's memory sinks left
  * are removed after the suite. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val Sf = "/root/testdata/sf0.001"

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh directory under the JVM temp dir (name prefix `prefix`),
    * deleted after the suite. */
  def tempDir(prefix: String): String = synchronized {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs += dir
    dir.toString
  }

  override def afterAll(): Unit =
    try {
      tempDirs.foreach(FileUtils.deleteQuietly)
      SparkSession.getDefaultSession.foreach { s =>
        s.catalog.listTables().collect()
          .filter(t => t.isTemporary && t.name.startsWith("graft_"))
          .foreach(t => s.catalog.dropTempView(t.name))
      }
    } finally super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's Tungsten page size, so specs run the memory layout
      // every main runs (Spark would derive one from heap ÷ cores)
      .config("spark.buffer.pageSize", GraftSession.PageSizeBytes.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
