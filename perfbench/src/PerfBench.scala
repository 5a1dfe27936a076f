package perfbench

import graft.{CacheScope, GraftSession, SparkEntry, TableDef}
import graft.app.DbDiffApp
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: runs one workload for a fixed time and prints
  * one `@@ {json}` line per metric and per fact, for `run.py` to read.
  *
  * Every timed number is the wall time of a public entry point a user
  * waits for (`DbDiffApp.iterate`, a registry query written to a `noop`
  * sink), never a `count()`: a count lets Catalyst prune the diff's
  * `modified_columns` and most of a query's projection.
  *
  * Arguments: `<workload> <dataDir> <workDir> <seconds> <trace 0|1>`.
  */
object PerfBench {
  val Cpus: String = sys.env.getOrElse("PERFBENCH_CPUS",
    Runtime.getRuntime.availableProcessors().toString)
  // set-ups after the timed loop: the first SetupWarmup only warm the JIT,
  // setup_s is the median of the next Setups
  val SetupWarmup = 3
  val Setups = 7
  // timed operations that run even past the deadline; per-layer figures
  // come from the first MinOps, so a seed's counts repeat exactly
  val MinOps = 3
  val MerkleBuckets = 4096
  val RegistryQueries: Seq[String] =
    Seq("dedup_minhash_lsh", "text_bm25_topk")

  // ---- output -------------------------------------------------------------

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def metric(name: String, value: Double, unit: String): Unit =
    println(s"""@@ {"metric": ${q(name)}, "value": ${num(value)}, "unit": ${q(unit)}}""")

  /** A per-layer figure; its unit comes from BENCHMARK.json. */
  def layer(name: String, value: Double): Unit =
    println(s"""@@ {"layer": ${q(name)}, "value": ${num(value)}}""")

  def fact(name: String, json: String): Unit =
    println(s"""@@ {"fact": ${q(name)}, "value": $json}""")

  def seqJson(xs: Seq[Double]): String = xs.map(num).mkString("[", ", ", "]")

  // ---- helpers ------------------------------------------------------------

  def now(): Long = System.currentTimeMillis()

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** CPU time of the whole JVM (every thread), in nanoseconds. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Machine-wide CPU time stolen by the hypervisor, in jiffies (0 if unknown). */
  def stealJiffies(): Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Exception => 0L }

  /** Driver heap in use after a full collection, in MB, taken once the
    * cached blocks an operation released are gone: in local mode they live
    * on this heap, and their release is asynchronous, so a release still in
    * flight would otherwise be counted at random. */
  def heapMb(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && System.nanoTime() - t0 < 5e9)
      Thread.sleep(20)
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1048576.0
  }

  def readJson(path: String): Map[String, Any] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(path), classOf[java.util.Map[String, Any]]).asScala.toMap

  /** Report data rows by status cell: (inserted, deleted, upd before, upd after). */
  def reportStatusRows(xlsx: String): (Long, Long, Long, Long) = {
    val zip = new java.util.zip.ZipFile(xlsx)
    val sheet = try new String(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml"))
      .readAllBytes(), "UTF-8") finally zip.close()
    def n(status: String): Long = {
      val cell = s"""<c t="inlineStr" s="3"><is><t>$status</t>"""
      var (count, at) = (0L, sheet.indexOf(cell))
      while (at >= 0) { count += 1; at = sheet.indexOf(cell, at + cell.length) }
      count
    }
    (n("INSERTED"), n("DELETED"), n("UPD BEFORE"), n("UPD  AFTER"))
  }

  final class Outcome {
    var attempted = 0
    var failed = 0
    val problems = ArrayBuffer[String]()
    def fail(msg: String): Unit = { failed += 1; if (problems.size < 20) problems += msg }
  }

  // ---- main ---------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, secondsS, traceS) = args
    System.setProperty("derby.stream.error.file", s"$workDir/derby.log")
    val w: Workload = workload match {
      case "loop_jdbc" => new JdbcLoop(dataDir, workDir)
      case "registry_pass" => new RegistryPass(dataDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    fact("load_s", timed(w.load())._2.toString)

    // one set-up: a fresh session, then whatever the workload needs before
    // its first timed operation; the first one, cold, opens the run
    def setUp(): (SparkSession, Double, Double) = {
      val t0 = System.nanoTime()
      val (s, ss) = timed(GraftSession.create(Cpus, "perfbench"))
      w.setup(s)
      (s, (System.nanoTime() - t0) / 1e9, ss)
    }
    var (spark, coldS, _) = setUp()
    val tracer = if (traceS == "1") {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None

    // the timed loop: at least MinOps operations, then until the deadline
    val outcome = new Outcome
    val opS = ArrayBuffer[Double]()
    val heap = ArrayBuffer[Double]()
    val gcS = ArrayBuffer[Double]()
    val cpuS = ArrayBuffer[Double]()
    val steal = ArrayBuffer[Double]()
    val windows = ArrayBuffer[(Long, Long)]()
    val deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
    var failedOp = false
    while (!failedOp && (opS.size < MinOps || System.nanoTime() < deadline) && w.hasNext) {
      w.prepare()
      val g0 = gcMs()
      val (c0, s0) = (cpuNs(), stealJiffies())
      val from = now()
      try opS += timed(w.op(spark, outcome))._2
      catch {
        case e: Exception =>
          outcome.attempted += 1
          outcome.fail(s"op ${opS.size + 1}: ${e.getClass.getSimpleName}: ${e.getMessage}")
          failedOp = true
      }
      windows += ((from, now()))
      cpuS += (cpuNs() - c0) / 1e9
      steal += (stealJiffies() - s0).toDouble
      gcS += (gcMs() - g0) / 1000.0
      if (!failedOp) w.check(outcome)
      heap += heapMb(spark)
    }
    tracer.foreach(_.drain())

    // set-up again, several times, once the timed operations and a few
    // set-ups have warmed the JIT: the cold first set-up depends mostly on
    // how class loading and compilation went, and the next few on how far
    // the compiler has got, so none of them repeats from run to run. Each
    // starts on a collected heap, so no set-up pays for another's garbage.
    val setupS = ArrayBuffer[Double]()
    val sessionS = ArrayBuffer[Double]()
    for (_ <- 1 to SetupWarmup + Setups) {
      spark.stop()
      System.gc()
      val (s, t, ss) = setUp()
      spark = s
      setupS += t
      sessionS += ss
    }
    val warmSetupS = setupS.drop(SetupWarmup).toSeq

    metric("setup_s", median(warmSetupS), "s")
    metric("iter_s", median(opS.toSeq), "s")
    // median, not max: on registry_pass about one run in ten gains a
    // ~37 MB block that stays from its third operation on
    metric("heap_mb", median(heap.toSeq), "MB")
    w.endToEnd(opS.toSeq)
    metric("failed_frac",
      if (outcome.attempted == 0) 1.0 else outcome.failed.toDouble / outcome.attempted, "ratio")
    fact("setup_cold_s", num(coldS))
    fact("setup_samples_s", seqJson(setupS.toSeq))
    fact("session_samples_s", seqJson(sessionS.toSeq))
    fact("op_samples_s", seqJson(opS.toSeq))
    fact("op_cpu_s", seqJson(cpuS.toSeq))
    fact("op_steal_jiffies", seqJson(steal.toSeq))
    fact("heap_samples_mb", seqJson(heap.toSeq))

    fact("attempted", outcome.attempted.toString)
    fact("failed", outcome.failed.toString)
    fact("problems", outcome.problems.map(q).mkString("[", ", ", "]"))

    tracer.foreach { t =>
      val layers = w.perLayer(t, windows.take(MinOps).toSeq) ++ Map(
        "session.create_s" -> median(sessionS.drop(SetupWarmup).toSeq),
        "jvm.gc_s" -> median(gcS.take(MinOps).toSeq),
        "trace.iter_s" -> median(opS.toSeq))
      layers.foreach { case (n, v) => layer(n, v) }
    }
    fact("preflight", graft.Preflight.probeJson(dataDir))
    spark.stop()
  }

  // ---- workloads ----------------------------------------------------------

  /** One workload. `load` runs before any session exists and `prepare`
    * before each operation, both untimed; `setup` is timed into setup_s,
    * `op` is one timed operation and `check` verifies it, untimed. */
  trait Workload {
    def load(): Unit = ()
    def setup(spark: SparkSession): Unit
    def hasNext: Boolean = true
    def prepare(): Unit = ()
    def op(spark: SparkSession, o: Outcome): Unit
    def check(o: Outcome): Unit = ()
    def endToEnd(opS: Seq[Double]): Unit = ()
    /** Per-layer figures of the first operations, from their time windows. */
    def perLayer(t: Tracer, windows: Seq[(Long, Long)]): Map[String, Double]
  }

  /** `loop_jdbc`: the dbdiff loop against a live embedded Derby database,
    * configured as the CLI runs JDBC with `-merkle 4096`: catalog tables,
    * pinned snapshots, the Merkle prune, an .xlsx report. Before each
    * iteration, untimed, seeded DML changes ~10% of the rows. */
  final class JdbcLoop(dataDir: String, workDir: String) extends Workload {
    val url = "jdbc:derby:memory:perfbench;create=true"
    private val expected = readJson(s"$dataDir/expected.json")
    /** Per step, table -> (updated, deleted, inserted) keys. */
    private val steps: IndexedSeq[Map[String, (Long, Long, Long)]] =
      expected("steps").asInstanceOf[java.util.List[java.util.Map[String, java.util.List[Number]]]]
        .asScala.toIndexedSeq.map(_.asScala.toMap.map { case (t, c) =>
          t -> (c.get(0).longValue, c.get(1).longValue, c.get(2).longValue)
        })
    /** Rows in the database after each step (index 0: the initial load). */
    private val rows: IndexedSeq[Double] = expected("rows")
      .asInstanceOf[java.util.List[Number]].asScala.toIndexedSeq.map(_.doubleValue)
    // dml.tsv: step, table, op, key, values...; step -1 is the initial load
    private val dml: Map[Int, Seq[Array[String]]] =
      Files.readAllLines(Paths.get(s"$dataDir/dml.tsv")).asScala.toSeq
        .filter(_.nonEmpty).map(_.split("\t", -1)).groupBy(_(0).toInt)
    private val ddl = Seq(
      "CREATE TABLE CUSTOMER (C_CUSTKEY BIGINT PRIMARY KEY, C_NAME VARCHAR(64), " +
        "C_NATIONKEY INT, C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(16))",
      "CREATE TABLE ORDERS (O_ORDERKEY BIGINT PRIMARY KEY, O_CUSTKEY BIGINT, " +
        "O_ORDERSTATUS VARCHAR(4), O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, " +
        "O_ORDERPRIORITY VARCHAR(32))")
    private val pkCol = Map("customer" -> "C_CUSTKEY", "orders" -> "O_ORDERKEY")
    private val updCol = Map("customer" -> "C_ACCTBAL", "orders" -> "O_TOTALPRICE")
    private val width = Map("customer" -> 5, "orders" -> 6)

    private var conn: java.sql.Connection = _
    private var app: DbDiffApp = _
    private var tables: Seq[TableDef] = Nil
    private var step = 0 // DML steps applied so far
    private val catalogS = ArrayBuffer[Double]()
    // the callbacks handed to the app, measured from outside
    private var consoleLines = 0L
    private var sourceS = 0.0
    private var lastResult: DbDiffApp.IterationResult = _
    private def report(s: Int) = s"$workDir/report_$s.xlsx"
    private val perOp = ArrayBuffer[Map[String, Double]]()

    /** Replays one DML step over the benchmark's single connection. */
    private def replay(s: Int): Unit = {
      dml.getOrElse(s, Nil).groupBy(_(1)).foreach { case (table, lines) =>
        val t = table.toUpperCase
        val (pk, c) = (pkCol(table), updCol(table))
        val upd = conn.prepareStatement(s"UPDATE $t SET $c = $c + 1 WHERE $pk = ?")
        val del = conn.prepareStatement(s"DELETE FROM $t WHERE $pk = ?")
        val ins = conn.prepareStatement(
          s"INSERT INTO $t VALUES (${Seq.fill(width(table))("?").mkString(", ")})")
        try lines.foreach { l =>
          l(2) match {
            case "U" => upd.setLong(1, l(3).toLong); upd.addBatch()
            case "D" => del.setLong(1, l(3).toLong); del.addBatch()
            case "I" =>
              l.drop(4).zipWithIndex.foreach { case (v, i) => ins.setString(i + 1, v) }
              ins.addBatch()
          }
        } finally Seq(upd, del, ins).foreach { st => st.executeBatch(); st.close() }
      }
      conn.commit()
    }

    override def load(): Unit = {
      conn = java.sql.DriverManager.getConnection(url)
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      ddl.foreach(st.execute)
      st.close()
      replay(-1)
    }

    def setup(spark: SparkSession): Unit = {
      val (ts, s) = timed(DbDiffApp.jdbcTables(spark, "derby", url, "APP"))
      catalogS += s
      tables = ts
      val source = DbDiffApp.jdbcSource(spark, url, "APP")
      app = new DbDiffApp(spark, tables,
        t => { val (df, s) = timed(source(t)); sourceS += s; df },
        consoleOut = _ => consoleLines += 1,
        pinSnapshots = true, merkleBuckets = MerkleBuckets)
    }

    override def hasNext: Boolean = step < steps.size

    /** The user's "do some work" between two snapshots. */
    override def prepare(): Unit = {
      replay(step)
      step += 1
      consoleLines = 0; sourceS = 0; lastResult = null
    }

    def op(spark: SparkSession, o: Outcome): Unit =
      lastResult = app.iterate(report(step))

    override def check(o: Outcome): Unit = {
      o.attempted += 1
      val exp = steps(step - 1)
      val problems = ArrayBuffer[String]()
      tables.foreach { t =>
        val (u, d, i) = exp(t.name.toLowerCase)
        val got = lastResult.changedKeys.getOrElse(t.name, -1L)
        if (got != u + d + i) problems += s"step $step ${t.name}: changed $got, expected ${u + d + i}"
      }
      val (u, d, i) = exp.values.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) =>
        (a + x, b + y, c + z) }
      val path = report(step)
      val got = reportStatusRows(path)
      if (got != ((i, d, u, u))) problems += s"step $step report rows " +
        s"ins/del/upd-before/upd-after $got, expected ($i,$d,$u,$u)"
      if (problems.nonEmpty) o.fail(problems.mkString("; "))
      perOp += Map("console.rows" -> consoleLines.toDouble, "source_s" -> sourceS,
        "report.rows" -> (got._1 + got._2 + got._3 + got._4).toDouble,
        "diff.updated_rows" -> got._3.toDouble,
        "report.bytes" -> new java.io.File(path).length.toDouble)
      Files.deleteIfExists(Paths.get(path))
    }

    def perLayer(t: Tracer, windows: Seq[(Long, Long)]): Map[String, Double] = {
      // operations that completed and were checked
      val ws = windows.take(perOp.size).map { case (a, b) => t.window(a, b) }.zipWithIndex
      def med(f: (Tracer.Window, Int) => Double): Double = median(ws.map(f.tupled))
      def opv(k: String): Double = median(perOp.take(ws.size).map(_(k)).toSeq)
      def read(w: Tracer.Window): Double = w.allStages.map(_.recordsRead).sum.toDouble
      val diff = Seq("changed_count", "console", "report")
      Map(
        "scan.rows_read" -> med((w, _) => read(w)),
        // operation i diffs the database before and after step i + 1
        "scan.amplification" -> med((w, i) => read(w) / (rows(i) + rows(i + 1))),
        // the measured set-ups: not the cold one, not the warm-up ones
        "jdbc.catalog_s" -> median(catalogS.drop(1 + SetupWarmup).toSeq),
        "jdbc.scan_s" -> med((w, i) => perOp(i)("source_s") +
          w.allStages.filter(_.jdbc).map(s => s.completed - s.submitted).sum / 1000.0),
        "app.jobs" -> med((w, _) => w.jobs.size.toDouble),
        "app.stages" -> med((w, _) => w.allStages.size.toDouble),
        "app.pin_write_s" -> med((w, _) => w.wallS("pin")),
        "app.pin_bytes" -> med((w, _) => w.stagesOfLayers("pin").map(_.bytesWritten).sum.toDouble),
        "app.changed_count_s" -> med((w, _) => w.wallS("changed_count")),
        "app.driver_s" -> med((w, _) => w.driverMs / 1000.0),
        "diff.exec_s" -> med((w, _) => w.wallS(diff: _*)),
        "diff.plan_s" -> med((w, _) => w.planS(diff: _*)),
        "diff.shuffle_bytes" -> med((w, _) =>
          w.stagesOfLayers(diff: _*).map(_.shuffleWrite).sum.toDouble),
        "diff.spill_bytes" -> med((w, _) => w.stagesOfLayers(diff: _*).map(_.spill).sum.toDouble),
        "diff.updated_rows" -> opv("diff.updated_rows"),
        "merkle.s" -> med((w, _) => w.wallS("merkle")),
        "merkle.dirty_frac" -> med { (w, _) =>
          val dirty = w.qesIn("merkle").map(q => math.max(0L, q.topRows))
          if (dirty.isEmpty) 0.0 else dirty.sum.toDouble / (dirty.size * MerkleBuckets)
        },
        "console.s" -> med((w, _) => w.wallS("console")),
        "console.rows" -> opv("console.rows"),
        "report.s" -> med((w, _) => w.wallS("report")),
        "report.rows" -> opv("report.rows"),
        "report.bytes" -> opv("report.bytes"))
    }
  }

  /** `registry_pass`: registry queries from operator families the loop
    * never touches, each written to a `noop` sink, after releasing the
    * `CacheScope` session tier so every artifact build is inside the pass. */
  final class RegistryPass(dataDir: String) extends Workload {
    private val reference: Map[String, String] =
      readJson(s"$dataDir/reference.json").map { case (k, v) => k -> v.toString }
    private val digests = scala.collection.mutable.LinkedHashMap[String, String]()
    private val perQuery = ArrayBuffer[Map[String, Double]]() // one map per pass
    private val queryWindows = ArrayBuffer[Map[String, (Long, Long)]]()
    private val pinnedBytes = ArrayBuffer[Double]()

    def setup(spark: SparkSession): Unit = ()

    /** Order-independent digest of a result, observed during the sink
      * write itself: row count, sum of the low 32 bits and xor of a per-row
      * xxhash64. Floating columns are rounded to 6 places first, so the
      * summation order inside an aggregate cannot flip a last bit. */
    private def observed(df: DataFrame, ob: Observation): DataFrame = {
      val h = xxhash64(df.schema.fields.toSeq.map { f =>
        f.dataType match {
          case DoubleType | FloatType => round(col(s"`${f.name}`").cast("double"), 6)
          case _ => col(s"`${f.name}`")
        }
      }: _*)
      df.observe(ob, count(lit(1)).as("n"),
        sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"), bit_xor(h).as("x"))
    }

    def op(spark: SparkSession, o: Outcome): Unit = {
      val times = scala.collection.mutable.Map[String, Double]()
      val wins = scala.collection.mutable.Map[String, (Long, Long)]()
      var pinned = 0.0
      CacheScope.releaseSession()
      RegistryQueries.foreach { name =>
        o.attempted += 1
        val from = now()
        val ob = Observation(s"perfbench_$name")
        try {
          times(name) = timed {
            observed(SparkEntry.queries(name)(spark, dataDir), ob)
              .write.format("noop").mode("overwrite").save()
          }._2
          val r = ob.get
          val digest = s"${r("n")}:${r("lo")}:${r("x")}"
          digests.getOrElseUpdate(name, digest)
          if (!reference.get(name).contains(digest))
            o.fail(s"$name digest $digest, reference ${reference.getOrElse(name, "missing")}")
        } catch {
          case e: Exception => o.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        pinned = math.max(pinned, spark.sparkContext.getRDDStorageInfo
          .map(i => (i.memSize + i.diskSize).toDouble).sum)
        wins(name) = (from, now())
        CacheScope.releaseAll()
      }
      perQuery += times.toMap
      queryWindows += wins.toMap
      pinnedBytes += pinned
    }

    override def endToEnd(opS: Seq[Double]): Unit = {
      metric("pass_s", median(opS), "s")
      RegistryQueries.foreach { n =>
        metric(s"q.${n}_s", median(perQuery.flatMap(_.get(n)).toSeq), "s")
      }
      fact("digests", digests.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}"))
    }

    def perLayer(t: Tracer, windows: Seq[(Long, Long)]): Map[String, Double] = {
      val passes = queryWindows.take(windows.size).toSeq
        .map(_.map { case (n, (a, b)) => n -> t.window(a, b) })
      def perPass(f: Map[String, Tracer.Window] => Double): Double = median(passes.map(f))
      Map(
        // a CacheScope artifact build is an eager local checkpoint
        "cache.builds" -> perPass(_.values.map(_.qes.count(_.funcName == "localCheckpoint")).sum),
        "cache.pinned_bytes" -> median(pinnedBytes.take(windows.size).toSeq)) ++
        RegistryQueries.flatMap { n =>
          Seq(
            s"q.$n.plan_s" -> perPass(_(n).qes.map(_.planMs).sum / 1000.0),
            s"q.$n.jobs" -> perPass(_(n).jobs.size.toDouble),
            s"q.$n.shuffle_bytes" -> perPass(_(n).allStages.map(_.shuffleWrite).sum.toDouble))
        }
    }
  }
}
