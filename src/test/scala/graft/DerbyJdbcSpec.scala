package graft

import graft.app.DbDiffApp
import graft.operators.SnapshotDiff
import graft.sources.JdbcSnapshots
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Executes the JDBC source plumbing (SURVEY §2 S2/J2/F4) against an
  * embedded Derby database — the one dialect that can run inside this
  * container. The production dialects' information_schema SQL can't execute
  * here (no live PostgreSQL/MySQL/SQL Server), but every code path around
  * it does: scans via `spark.read.format("jdbc")`, a real catalog query on
  * one driver-side connection (no Spark job), driver-metadata PK discovery
  * with KEY_SEQ ordering, the range-partitioned snapshot scan, the app's
  * snapshot pin (isolated from later DML), and the full normalize→diff
  * pipeline over JDBC-sourced frames. */
class DerbyJdbcSpec extends SparkTestBase {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private lazy val seeded: Unit = {
    System.setProperty("derby.system.home", "/tmp/derby")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE ITEMS_BEFORE (ID INT PRIMARY KEY, NAME VARCHAR(50), VAL INT)")
      st.execute("CREATE TABLE ITEMS_AFTER (ID INT PRIMARY KEY, NAME VARCHAR(50), VAL INT)")
      // composite PK declared (B, A): KEY_SEQ must preserve that order
      st.execute("CREATE TABLE PAIRS (A INT NOT NULL, B INT NOT NULL, C VARCHAR(10), PRIMARY KEY (B, A))")
      (1 to 100).foreach { i =>
        st.execute(s"INSERT INTO ITEMS_BEFORE VALUES ($i, 'item_$i', ${i * 10})")
      }
      // after = before with id 7 modified, id 13 deleted, id 101 inserted
      (1 to 101).filter(_ != 13).foreach { i =>
        val v = if (i == 7) 9999 else i * 10
        st.execute(s"INSERT INTO ITEMS_AFTER VALUES ($i, 'item_$i', $v)")
      }
      st.close()
    } finally conn.close()
  }

  /** `f`'s result and the Spark jobs it submitted, counted by a listener
    * on a job group of its own; a sentinel job in a second group marks the
    * point where the listener has seen every job `f` ran. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime}"
    val jobs = new AtomicInteger()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-sentinel" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val r = f
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS))
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("jdbcUrl builds the reference's connection-string shapes") {
    assert(JdbcSnapshots.jdbcUrl("postgresql", "h", "5432", "db") == "jdbc:postgresql://h:5432/db")
    assert(JdbcSnapshots.jdbcUrl("mysql", "h", "3306", "db") == "jdbc:mysql://h:3306/db")
    assert(JdbcSnapshots.jdbcUrl("mssql", "h", "1433", "db") == "jdbc:sqlserver://h:1433;databaseName=db")
    assert(JdbcSnapshots.jdbcUrl("derby", "", "", "memory:x") == "jdbc:derby:memory:x")
    intercept[IllegalArgumentException](JdbcSnapshots.jdbcUrl("oracle", "h", "1", "db"))
  }

  test("catalog: table list via SYS catalog query + PKs via driver metadata") {
    seeded
    val cat = JdbcSnapshots.catalog("derby", url, "APP")
    assert(cat.map(_._1) == Seq("ITEMS_AFTER", "ITEMS_BEFORE", "PAIRS"))
    assert(cat.toMap.apply("ITEMS_BEFORE") == Seq("ID"))
    // composite key order comes from KEY_SEQ, not column position
    assert(cat.toMap.apply("PAIRS") == Seq("B", "A"))
  }

  test("catalog and jdbcTables run no Spark job") {
    seeded
    // the probe does see a job when one runs
    assert(jobsOf(spark.sparkContext.parallelize(1 to 4, 2).count())._2 == 1)
    val (cat, catalogJobs) = jobsOf(JdbcSnapshots.catalog("derby", url, "APP"))
    assert(cat.map(_._1) == Seq("ITEMS_AFTER", "ITEMS_BEFORE", "PAIRS"))
    assert(catalogJobs == 0)
    val (tables, tableJobs) = jobsOf(DbDiffApp.jdbcTables(spark, "derby", url, "APP"))
    assert(tables.map(t => t.name -> t.pk) ==
      Seq("ITEMS_AFTER" -> Seq("ID"), "ITEMS_BEFORE" -> Seq("ID"), "PAIRS" -> Seq("B", "A")))
    assert(tableJobs == 0)
  }

  test("a pin holds the pre-mutation rows, schema and NULLs, off the JDBC relation") {
    val typedUrl = "jdbc:derby:memory:graftpins;create=true"
    System.setProperty("derby.system.home", "/tmp/derby")
    def sql(statements: String*): Unit = {
      val conn = java.sql.DriverManager.getConnection(typedUrl)
      try {
        val st = conn.createStatement()
        statements.foreach(st.execute)
        st.close()
      } finally conn.close()
    }
    sql("CREATE TABLE TYPED (ID BIGINT PRIMARY KEY, V VARCHAR(20), C CHAR(5), " +
        "TS TIMESTAMP, D DATE, AMT DECIMAL(10,2), X DOUBLE, N INT)",
      "INSERT INTO TYPED VALUES (1, 'alpha', 'ab', " +
        "TIMESTAMP('2024-02-29 13:45:10.123456'), DATE('2024-02-29'), 1234.50, 0.25, 7)",
      "INSERT INTO TYPED (ID) VALUES (2)", // every other column NULL
      "INSERT INTO TYPED (ID, V) VALUES (3, 'gamma')")

    val src = DbDiffApp.jdbcSource(spark, typedUrl, "APP")(
      TableDef("TYPED", Seq("ID", "V", "C", "TS", "D", "AMT", "X", "N"), Seq("ID")))
    val atPin = src.collect().toSet
    val Seq(pinned) = CacheScope.pinAll(Seq(src), org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      sql("UPDATE TYPED SET V = 'beta', N = 8 WHERE ID = 1",
        "DELETE FROM TYPED WHERE ID = 3",
        "INSERT INTO TYPED (ID, V) VALUES (4, 'delta')")
      // the live table moved on; the pin did not
      assert(src.collect().toSet != atPin)
      assert(pinned.schema == src.schema)
      assert(pinned.collect().toSet == atPin)
      assert(pinned.filter(col("ID") === 2).head().toSeq.tail.forall(_ == null))
      val leaf = org.apache.spark.sql.graftshim.RddShim.leafRdd(pinned)
      assert(leaf.map(_.getStorageLevel) ==
        Some(org.apache.spark.storage.StorageLevel.DISK_ONLY))
      def jdbcLeaves(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.analyzed.collectLeaves().collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if l.relation.getClass.getSimpleName == "JDBCRelation" => l
        }
      assert(jdbcLeaves(src).nonEmpty)
      assert(jdbcLeaves(pinned).isEmpty)
    } finally CacheScope.releasePin(pinned)
  }

  test("range-partitioned snapshot scan produces the requested splits") {
    seeded
    val df = JdbcSnapshots.snapshot(spark, url, "APP.ITEMS_BEFORE",
      Some("ID"), Some((1L, 101L)), numPartitions = 4)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 100)
    assert(df.agg(sum(col("VAL"))).head().getLong(0) == (1 to 100).map(_ * 10).sum)
  }

  test("full diff over JDBC-sourced snapshots") {
    seeded
    val before = JdbcSnapshots.snapshot(spark, url, "APP.ITEMS_BEFORE", None, None, 1)
    val after = JdbcSnapshots.snapshot(spark, url, "APP.ITEMS_AFTER", None, None, 1)
    val pk = JdbcSnapshots.pksViaMetadata(url, "APP", "ITEMS_BEFORE")

    val counts = SnapshotDiff.statusCounts(before, after, pk)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map(
      SnapshotDiff.Inserted -> 1L, SnapshotDiff.Deleted -> 1L, SnapshotDiff.Updated -> 1L))

    val d = SnapshotDiff.diff(before, after, pk)
    val updated = d.filter(col("diff_status") === SnapshotDiff.Updated)
      .orderBy(col("side")).collect()
    assert(updated.length == 2) // before row then after row
    assert(updated.forall(_.getAs[String]("modified_columns") == "VAL"))
    assert(d.filter(col("diff_status") === SnapshotDiff.Inserted)
      .head().getAs[String]("ID") == "101")
  }
}
