package graft.app

import graft.Tables
import graft.operators.Mutations
import org.apache.spark.sql.SparkSession

import java.time.LocalDateTime

/** Runnable dbdiff-equivalent CLI (`/root/reference/cmd/dbdiff/main.go`).
  *
  * {{{
  * spark-submit --class graft.app.DbDiffMain ... [-conf configuration.yaml]
  *   [-o out.html] [-merkle 4096] [--demo]
  * }}}
  *
  * Flow, matching `main.go:23-98`: load config (S1) → catalog the tables →
  * BEFORE snapshot → wait for the operator's keypress → AFTER snapshot →
  * diff → console lines (S7) + styled HTML report (S8, timestamped filename
  * S9) → swap → repeat, until `q`/`exit`.
  *
  * `--demo` replaces the stdin wait with two scripted iterations against the
  * fixture lake: iteration 1 applies the harness mutation set (the "user
  * operations"), iteration 2 changes nothing — so the first report is full
  * and the second is empty, which exercises the swap end-to-end without a
  * terminal. This is also what [[DbDiffAppSpec]] pins.
  */
object DbDiffMain {
  def main(args: Array[String]): Unit = {
    var conf = DbDiffConfig.DefaultConfigPath
    var outName = ReportSink.DefaultOutputName
    var demo = false
    var merkleArg: Option[String] = None
    args.sliding(2, 1).toList.foreach {
      case Array("-conf", v)   => conf = v
      case Array("-o", v)      => outName = v
      case Array("-merkle", v) => merkleArg = Some(v)
      case _                   =>
    }
    val merkle = merkleArg.fold(0) { v =>
      val n = v.toIntOption.getOrElse(0)
      require(n > 0, s"-merkle takes a positive bucket count, got '$v'")
      n
    }
    if (args.contains("--demo")) demo = true
    // S10 behind a flag: the reference always spawns the OS viewer on
    // macOS/Windows (main.go:261-269); a Spark deployment is usually
    // headless, so spawning is opt-in
    val open = args.contains("-open")

    val config =
      if (demo && !java.nio.file.Files.exists(java.nio.file.Paths.get(conf)))
        DbDiffConfig(DbConfig(dbType = "parquet", name = "/root/testdata/sf0.001"))
      else DbDiffConfig.load(conf)
    val jdbcDialects = Set("postgresql", "mysql", "mssql", "derby")
    require(config.db.dbType == "parquet" || jdbcDialects(config.db.dbType),
      s"db type must be 'parquet' or one of ${jdbcDialects.mkString("/")}, " +
        s"got '${config.db.dbType}'")

    val spark = graft.GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "graft-dbdiff")

    println("[INITIALIZING] Collecting Table Information ...")

    // live-database abstraction: JDBC configs catalog and scan the live
    // database (with snapshots pinned as disk-only local checkpoints — a
    // lazy frame over a mutable table would see post-mutation state on both
    // diff sides); in
    // parquet demo mode a mutable overlay plays the operator's
    // UPDATE/INSERT/DELETE session
    var mutated = false
    val (tables, source, pin) =
      if (jdbcDialects(config.db.dbType)) {
        val url = graft.sources.JdbcSnapshots.jdbcUrl(
          config.db.dbType, config.db.host, config.db.port, config.db.name)
        val props = Map("user" -> config.db.user, "password" -> config.db.password)
          .filter(_._2.nonEmpty)
        (DbDiffApp.jdbcTables(spark, config.db.dbType, url, config.db.schema, props),
          DbDiffApp.jdbcSource(spark, url, config.db.schema, props), true)
      } else {
        val base = DbDiffApp.parquetSource(spark, config.db.name)
        val overlay: graft.TableDef => org.apache.spark.sql.DataFrame =
          t => if (mutated) {
            base(t).createOrReplaceTempView(t.name)
            spark.sql(Mutations.afterSql(t.name))
          } else base(t)
        (Tables.diffable, overlay, false)
      }
    println(s"Table count: ${tables.length}")
    // -merkle N enables the bucket-checksum fast path for standing loops
    // over mostly-static lakes (see DbDiffApp.merkleBuckets)
    val app = new DbDiffApp(spark, tables, source, pinSnapshots = pin,
      merkleBuckets = merkle)

    println("[BEFORE] Collecting snapshot data... COMPLETE!")

    def runOnce(): Unit = {
      println("\n[AFTER ] Collecting snapshot data... COMPLETE!")
      val out = ReportSink.generateOutFilename(outName, LocalDateTime.now())
      val r = app.iterate(out)
      println(s"[ResultOutput] See ${r.reportPath.getOrElse("(no report)")} " +
        s"— ${r.totalChanged} changed keys across ${r.changedKeys.count(_._2 > 0)} tables")
      if (open) r.reportPath.foreach(ReportSink.openInViewer(_))
    }

    // every exit (`q`/`exit`, end of stdin, end of the demo) releases the
    // pinned snapshots' checkpoint blocks and stops the session
    try {
      if (demo) {
        mutated = true; runOnce()   // iteration 1: the scripted "operations"
        runOnce()                   // iteration 2: nothing changed since swap
      } else {
        val stdin = scala.io.Source.stdin.getLines()
        print("OK, Let's do some operations, THEN HIT ANY KEY! OR type 'q' or 'exit' to quit this tool.  ")
        while (stdin.hasNext) {
          val line = stdin.next()
          if (line == "q" || line == "exit") return
          runOnce()
          print("OK, Let's do some operations, THEN HIT ANY KEY! OR type 'q' or 'exit' to quit this tool.  ")
        }
      }
    } finally {
      app.close()
      spark.stop()
    }
  }
}
