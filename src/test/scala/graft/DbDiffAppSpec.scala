package graft

import graft.app.{DbDiffApp, DbDiffConfig, DbDiffMain, ReportSink}
import graft.operators.{Mutations, Normalize, SnapshotDiff}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.RddShim
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDateTime
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** End-to-end parity with the reference application loop
  * (`cmd/dbdiff/main.go:23-98`): config → snapshot → operations → diff →
  * console + styled report → swap → next iteration sees no changes. */
class DbDiffAppSpec extends SparkTestBase {
  import DbDiffAppSpec.sheetXml

  /** A source over the fixture that serves `Mutations.afterSql` once
    * `mutated` is set: the operator's "do some work" step. */
  private final class MutatingSource {
    var mutated = false
    def apply(t: TableDef): org.apache.spark.sql.DataFrame = {
      val base = Tables.load(spark, Sf, t.name)
      if (mutated) {
        base.createOrReplaceTempView(t.name)
        spark.sql(Mutations.afterSql(t.name))
      } else base
    }
  }

  test("S1: parses the reference's normal config shape") {
    val c = DbDiffConfig.parse(
      """db:
        |  type: postgresql
        |  host: localhost
        |  port: 5432
        |  user: user1
        |  password: pswd2
        |  name: dbname
        |  schema: schema.
        |""".stripMargin)
    assert(c.db.dbType == "postgresql")
    assert(c.db.host == "localhost")
    assert(c.db.port == "5432")
    assert(c.db.user == "user1")
    assert(c.db.password == "pswd2")
    assert(c.db.name == "dbname")
    assert(c.db.schema == "schema.")
  }

  test("S1: rejects the reference's invalid config shape") {
    intercept[IllegalArgumentException] {
      DbDiffConfig.parse("schema.\ntest\naaaa\nddd\n")
    }
  }

  test("S1: comments, quoted hashes, and mid-word apostrophes parse like YAML") {
    val c = DbDiffConfig.parse(
      """db:
        |  type: postgresql # trailing comment stripped
        |  password: "p#ss"
        |  user: dont'tell # comment after a mid-word apostrophe
        |  name: 'o#brien'
        |""".stripMargin)
    assert(c.db.dbType == "postgresql")
    assert(c.db.password == "p#ss")   // '#' inside quotes kept
    assert(c.db.user == "dont'tell")  // apostrophe is plain text, comment gone
    assert(c.db.name == "o#brien")    // single-quoted '#' kept
  }

  test("-merkle rejects a non-positive or non-numeric bucket count before any session starts") {
    Seq("-4", "0", "abc").foreach { v =>
      val e = intercept[IllegalArgumentException] {
        DbDiffMain.main(Array("--demo", "-merkle", v))
      }
      assert(e.getMessage.contains("-merkle") && e.getMessage.contains(s"'$v'"))
    }
  }

  test("DbDiffMain rejects an unknown argument or a flag without its value before any session starts") {
    Seq(
      Seq("--demo", "-merkel", "64") -> "'-merkel'",
      Seq("--demo", "-o") -> "-o needs a value",
      Seq("-merkle") -> "-merkle needs a value",
      Seq("--demo", "--open") -> "'--open'"
    ).foreach { case (args, named) =>
      val e = intercept[IllegalArgumentException](DbDiffMain.main(args.toArray))
      assert(e.getMessage.contains(named), e.getMessage)
    }
  }

  test("heap line: in-use and ceiling in whole MiB, rounded down") {
    assert(DbDiffMain.heapLine(0L, 1L << 30) ==
      "[MEMORY] Driver heap in use = 0 MiB of 1024 MiB")
    assert(DbDiffMain.heapLine((90L << 20) + (1L << 20) - 1, 3L << 30) ==
      "[MEMORY] Driver heap in use = 90 MiB of 3072 MiB")
  }

  test("S9: timestamped default filename; explicit name passes through") {
    val t = LocalDateTime.of(2026, 8, 12, 13, 4, 5)
    assert(ReportSink.generateOutFilename(ReportSink.DefaultOutputName, t)
      == "dbdiff_20260812_130405.xlsx")
    assert(ReportSink.generateOutFilename("x.xlsx", t) == "x.xlsx")
  }

  test("loop twice with swap: first iteration reports, second is empty") {
    val tables = Seq(Tables.region, Tables.customer)
    val source = new MutatingSource

    val console = scala.collection.mutable.ArrayBuffer.empty[String]
    val app = new DbDiffApp(spark, tables, source.apply, console.append(_), maxConsoleRows = 10000)

    // iteration 1: the "user operations" happen, then the diff sees them
    source.mutated = true
    val out1 = s"${tempDir("graft_dbdiff")}/report.xlsx"
    val r1 = app.iterate(out1)
    assert(r1.totalChanged > 0)
    assert(r1.changedKeys.keySet == Set("region", "customer"))

    // console renderer: reference label widths, byte for byte (main.go:204-231)
    assert(console.exists(_.startsWith("INSERTED        : (")))
    assert(console.exists(_.startsWith("DELETED         : (")))
    assert(console.exists(_.startsWith("UPDATED[Before] : (")))
    assert(console.exists(_.startsWith("UPDATED[After ] : (")))
    // row debug string shape `([col:val]...)` (extract_data.go:135-147)
    assert(console.exists(_.contains("[r_regionkey:")))

    // styled workbook: section per changed table, modified cells marked
    val sheet1 = sheetXml(out1)
    assert(sheet1.contains("s=\"1\"><is><t>TableName</t></is>"))
    assert(sheet1.contains("<is><t>region</t></is>") && sheet1.contains("<is><t>customer</t></is>"))
    assert(sheet1.contains("s=\"4\"><is><t>"))
    assert(sheet1.contains("s=\"2\"><is><t>(diff)</t></is>"))
    assert(sheet1.contains("<is><t>UPD BEFORE</t></is>") && sheet1.contains("<is><t>UPD  AFTER</t></is>"))

    // iteration 2: nothing changed since the swap → empty diff, empty report
    console.clear()
    val out2 = s"${tempDir("graft_dbdiff")}/report.xlsx"
    val r2 = app.iterate(out2)
    assert(r2.totalChanged == 0)
    assert(console.isEmpty)
    assert(!sheetXml(out2).contains("TableName"))
  }

  test("console truncates at maxConsoleRows; changed keys and workbook rows stay whole") {
    val t = Tables.region
    val source = new MutatingSource
    val console = scala.collection.mutable.ArrayBuffer.empty[String]
    val app = new DbDiffApp(spark, Seq(t), source.apply, console.append(_), maxConsoleRows = 2)
    source.mutated = true
    val out = s"${tempDir("graft_dbdiff")}/report.xlsx"
    val r = app.iterate(out)

    // the diff the app ran, rendered and ordered on the driver: by key,
    // BEFORE above AFTER
    val d = SnapshotDiff.diffOneWinner(Tables.load(spark, Sf, t.name), source(t), t.pk)
    val lines = graft.operators.RenderQueries.consoleLines(d, t.cols).collect()
      .map(row => (row.getString(0), row.getString(1), row.getString(2)))
      .sortBy { case (k, side, _) => (k, side != "BEFORE") }.map(_._3).toSeq
    assert(lines.length > 2)
    assert(lines.take(2).map(_.take(16)) == Seq("UPDATED[Before] ", "UPDATED[After ] "))
    assert(console.toSeq ==
      lines.take(2) ++ Seq("... (truncated at 2 rows)", "===region=== (2 rows shown)"))
    assert(r.changedKeys == Map("region" -> d.select(Normalize.KeyCol).distinct().count()))
    // every diff row is in the workbook: the rows past the table-name and
    // header rows
    assert("<row r=".r.findAllMatchIn(sheetXml(out)).size == 2 + lines.length)
  }

  test("a value with a control character reaches the workbook as U+FFFD, and the sheet parses") {
    // U+0001 is the row codec's separator (RowCodecSpec), so the bell is
    // the control character here; the emoji is a surrogate pair that must
    // pass through
    import spark.implicits._
    val t = TableDef("bells", Seq("id", "txt"), Seq("id"))
    var rung = false
    val source = (_: TableDef) =>
      (Seq((1, "plain")) ++ (if (rung) Seq((2, "ding\u0007dong"), (3, "\uD83D\uDE00")) else Nil))
        .toDF("id", "txt")
    val app = new DbDiffApp(spark, Seq(t), source, _ => ())
    rung = true
    val out = s"${tempDir("graft_dbdiff")}/report.xlsx"
    assert(app.iterate(out).changedKeys == Map("bells" -> 2L))
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(sheetXml(out).getBytes(UTF_8)))
    val ts = doc.getElementsByTagName("t")
    val texts = (0 until ts.getLength).map(ts.item(_).getTextContent)
    assert(texts.contains("ding\uFFFDdong") && texts.contains("\uD83D\uDE00"), texts)
  }

  /** `f`'s result and, per table, the full-outer joins on `__key` that the
    * query executions run by `f` planned; an execution belongs to the table
    * whose first column its plan reads. */
  private def keyJoinsOf[A](tables: Seq[TableDef])(f: => A): (A, Map[String, Int]) = {
    val plans = new ConcurrentLinkedQueue[LogicalPlan]()
    val executions = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // a job in the sentinel group reaches the listener bus's shared queue
    // after every execution `f` ended
    val sentinel = s"key-joins-${System.nanoTime}"
    val flushed = new CountDownLatch(1)
    val flush = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel))
          flushed.countDown()
    }
    val sc = spark.sparkContext
    spark.listenerManager.register(executions)
    sc.addSparkListener(flush)
    val result = try {
      val r = f
      sc.setJobGroup(sentinel, "flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS))
      r
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(flush)
      spark.listenerManager.unregister(executions)
    }
    def keyJoins(p: LogicalPlan): Int = p.collect {
      case j: Join if j.joinType == FullOuter &&
        j.condition.exists(_.references.exists(_.name == Normalize.KeyCol)) => j
    }.size
    result -> tables.map { t =>
      t.name -> plans.asScala.filter(_.toString.contains(s"${t.cols.head}#")).map(keyJoins).sum
    }.toMap
  }

  test("one iterate(out) executes each table's diff join on __key once") {
    val tables = Seq(Tables.region, Tables.customer)
    Seq(0, 64).foreach { buckets =>
      val source = new MutatingSource
      val app = new DbDiffApp(spark, tables, source.apply, _ => (), merkleBuckets = buckets)
      source.mutated = true
      val out = s"${tempDir("graft_dbdiff")}/report.xlsx"
      val (r, joins) = keyJoinsOf(tables)(app.iterate(out))
      assert(r.changedKeys.values.forall(_ > 0))
      assert(joins == Map("region" -> 1, "customer" -> 1), s"merkleBuckets = $buckets")
    }
  }

  test("S8: -o out.xlsx writes the reference's styled workbook (modified-cell runs)") {
    val tables = Seq(Tables.region, Tables.customer)
    val source = new MutatingSource
    val app = new DbDiffApp(spark, tables, source.apply, _ => (), maxConsoleRows = 0)
    source.mutated = true
    val out = s"${tempDir("graft_dbdiff")}/report.xlsx"
    val r = app.iterate(out)
    assert(r.totalChanged > 0 && r.reportPath.contains(out))

    // the workbook is a well-formed zip with every required OOXML part
    val zf = new java.util.zip.ZipFile(out)
    try {
      val names = {
        val e = zf.entries(); val b = Seq.newBuilder[String]
        while (e.hasMoreElements) b += e.nextElement().getName
        b.result().toSet
      }
      assert(Set("[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
        "xl/_rels/workbook.xml.rels", "xl/styles.xml",
        "xl/worksheets/sheet1.xml").subsetOf(names), names)
      def read(n: String): String =
        new String(zf.getInputStream(zf.getEntry(n)).readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
      // styles: the reference's fills — orange table-name, green header,
      // yellow modified (cmd/dbdiff/main.go:116-155)
      val styles = read("xl/styles.xml")
      assert(styles.contains("FFFFC000") && styles.contains("FF92D050") &&
        styles.contains("FFFFFF00") && styles.contains("FFFF0000"))
      val sheet = read("xl/worksheets/sheet1.xml")
      // table-name + header blocks per table, from B2 (column-A pad cell)
      assert(sheet.contains("<is><t>TableName</t></is>"))
      assert(sheet.contains("<is><t>region</t></is>") &&
        sheet.contains("<is><t>customer</t></is>"))
      assert(sheet.contains("s=\"2\"><is><t>(diff)</t></is>"))
      // data rows: status labels incl. the literal double space, and
      // MODIFIED-cell style runs (s="4") on updated rows only
      assert(sheet.contains("<is><t>UPD BEFORE</t></is>") &&
        sheet.contains("<is><t>UPD  AFTER</t></is>"))
      assert(sheet.contains("s=\"4\"><is><t>"))
      // unmodified cells ride the bordered style
      assert(sheet.contains("s=\"3\"><is><t>INSERTED</t></is>"))
      // XML must parse — a malformed sheet breaks every consumer
      javax.xml.parsers.DocumentBuilderFactory.newInstance()
        .newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(
          sheet.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    } finally zf.close()
  }

  test("S10: viewer spawn builds the reference's command per OS, non-fatal on failure") {
    var launched = Seq.empty[String]
    val capture = (c: Seq[String]) => { launched = c }
    // the reference's two platforms, byte for byte (main.go:261-269)
    assert(ReportSink.openInViewer("r.xlsx", "mac os x", capture))
    assert(launched == Seq("/usr/bin/open", "r.xlsx"))
    assert(ReportSink.openInViewer("r.xlsx", "windows 11", capture))
    assert(launched == Seq("cmd", "/C", "r.xlsx"))
    // the linux extension
    assert(ReportSink.openInViewer("r.xlsx", "linux", capture))
    assert(launched == Seq("xdg-open", "r.xlsx"))
    // unknown platform: no spawn, no failure
    assert(!ReportSink.openInViewer("r.xlsx", "plan9", capture))
    // a failing launcher is contained (the reference log.Fatalf's here)
    assert(!ReportSink.openInViewer("r.xlsx", "linux",
      _ => throw new java.io.IOException("no viewer")))
  }

  test("UPDATED pair renders BEFORE above AFTER for the same key") {
    val t = Tables.region
    Tables.load(spark, Sf, t.name).createOrReplaceTempView(t.name)
    val after = spark.sql(Mutations.afterSql(t.name))
    val d = SnapshotDiff.diff(Tables.load(spark, Sf, t.name), after, t.pk)

    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    ReportSink.writeIteration(Seq(t -> d), java.io.OutputStream.nullOutputStream(),
      buf.append(_), 10000)
    val upd = buf.filter(_.startsWith("UPDATED"))
    assert(upd.nonEmpty && upd.length % 2 == 0)
    upd.grouped(2).foreach { pair =>
      assert(pair(0).startsWith("UPDATED[Before] "))
      assert(pair(1).startsWith("UPDATED[After ] "))
    }
  }

  test("merkle-pruned app loop matches the plain loop's changed counts") {
    // lineitem included: duplicate PKs exercise prune+one-winner composition
    val tables = Seq(Tables.part, Tables.lineitem)
    val source = new MutatingSource
    val plain = new DbDiffApp(spark, tables, source.apply, _ => (), maxConsoleRows = 0)
    val pruned = new DbDiffApp(spark, tables, source.apply, _ => (), maxConsoleRows = 0,
      merkleBuckets = 512)
    source.mutated = true
    val rPlain = plain.iterate()
    // reset both apps' before to the unmutated fixture for a fair comparison:
    // fresh pruned app sees the same before (sources are deterministic)
    assert(rPlain.totalChanged > 0)
    val rPruned = pruned.iterate()
    assert(rPruned.changedKeys == rPlain.changedKeys)
    // second iteration: no further mutation -> prune kills everything
    val r2 = pruned.iterate()
    assert(r2.totalChanged == 0)
  }

  /** Region and nation from the fixture, with a way to break a snapshot:
    * `broken` names the table whose source throws when called, `failing`
    * the one whose frame fails while its pin is being stored. */
  private final class FlakySource {
    var broken, failing = ""
    var dropRegionZero = false
    val tables = Seq(Tables.region, Tables.nation)
    def apply(t: TableDef): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions._
      if (t.name == broken) throw new IllegalStateException(s"${t.name}: source down")
      val base = Tables.load(spark, Sf, t.name)
      if (t.name == failing) base.filter(assert_true(col(base.columns.head) < 0).isNull)
      else if (t.name == "region" && dropRegionZero) base.filter(col("r_regionkey") =!= 0)
      else base
    }
  }

  /** Ids of the RDDs the session holds persisted. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of a snapshot's pinned RDDs. */
  private def pinIds(snap: Map[String, org.apache.spark.sql.DataFrame]): Set[Int] =
    snap.values.flatMap(RddShim.leafRdd).map(_.id).toSet

  test("a failed pin leaves only the before snapshot, and the next iteration diffs") {
    val src = new FlakySource
    val outside = persisted
    val app = new DbDiffApp(spark, src.tables, src.apply, _ => (), maxConsoleRows = 0,
      pinSnapshots = true)
    def appPins = persisted -- outside
    try {
      val first = app.beforeSnapshot
      assert(pinIds(first).size == 2 && appPins == pinIds(first))
      // the second table's source throws after the first table's source ran
      src.broken = "nation"
      intercept[IllegalStateException](app.iterate())
      assert(appPins == pinIds(first))
      // the second table's pin fails while the first one's is stored
      src.broken = ""; src.failing = "nation"
      intercept[Exception](app.iterate())
      assert(appPins == pinIds(first))
      // a good snapshot diffs against the before snapshot that survived
      src.failing = ""; src.dropRegionZero = true
      val r = app.iterate()
      assert(r.changedKeys == Map("region" -> 1L, "nation" -> 0L))
      // the swap released the retired snapshot, and a late use of it fails
      // by name
      val second = app.beforeSnapshot
      assert(pinIds(second).size == 2 && appPins == pinIds(second))
      val late = intercept[IllegalStateException](CacheScope.requireLive(first("region")))
      assert(late.getMessage.contains("frame used after CacheScope.releaseAll"))
      // the iteration ended with CacheScope.releaseAll(), which must not
      // touch the app's own pins: the new before snapshot is still stored
      assert(second.values.forall(df => RddShim.leafRdd(df).exists(
        _.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)))
      // a report that cannot be written releases the after snapshot too
      val notADir = Files.createTempFile("graft_report", ".xlsx")
      try intercept[java.io.IOException](app.iterate(notADir.resolve("r.xlsx").toString))
      finally Files.delete(notADir)
      assert(appPins == pinIds(second))
    } finally app.close()
    assert(appPins.isEmpty)
  }

  test("a constructor whose pin fails leaves no persisted RDD behind") {
    val outside = persisted
    val src = new FlakySource
    src.broken = "nation"
    intercept[IllegalStateException](
      new DbDiffApp(spark, src.tables, src.apply, _ => (), pinSnapshots = true))
    assert(persisted -- outside == Set.empty)
    src.broken = ""; src.failing = "nation"
    intercept[Exception](
      new DbDiffApp(spark, src.tables, src.apply, _ => (), pinSnapshots = true))
    assert(persisted -- outside == Set.empty)
  }
}

object DbDiffAppSpec {
  /** The worksheet part of an .xlsx report. */
  def sheetXml(xlsx: String): String = {
    val zf = new java.util.zip.ZipFile(xlsx)
    try new String(zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), UTF_8)
    finally zf.close()
  }
}
