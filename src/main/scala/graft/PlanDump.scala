package graft

import java.nio.file.{Files, Paths}

/** Developer tool: dump `.explain("formatted")` for named (or all bench)
  * queries to text files — the optimization rounds commit these as
  * `plans/r<N>/<query>_<tag>.txt` so plan-shape claims (Exchange counts,
  * join strategies, PushedFilters) are auditable without running Spark.
  *
  * `runMain graft.PlanDump <sfDir> <outDir> <tag> [name...]`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq else SparkEntry.benchQueries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.create(cpus, "graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
          println(s"[plandump] wrote $name")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
        // queries may pin caches while building (IVF indexes, dedup
        // intermediates); release so ~110 plans in one session stay light
        CacheScope.releaseAll()
      }
    }
    CacheScope.releaseSession()
    spark.stop()
  }
}
