package graft

import graft.app.DbDiffApp

/** The full dbdiff application loop against a LIVE database (embedded
  * Derby): catalog discovery (with keyless fallback), before snapshot,
  * real UPDATE/INSERT/DELETE between iterations, diff, console render,
  * styled report, swap. This is the reference's actual deployment shape
  * (`cmd/dbdiff/main.go:23-98`) running end-to-end on this engine. */
class DerbyAppLoopSpec extends SparkTestBase {

  private val url = "jdbc:derby:memory:graftapp;create=true"

  private def sql(statements: String*): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      statements.foreach(st.execute)
      st.close()
    } finally conn.close()
  }

  test("catalog → before → mutate → diff → report → swap, twice") {
    sql(
      "CREATE TABLE ITEMS (ID INT PRIMARY KEY, NAME VARCHAR(50), VAL INT)",
      // no PK: exercises the keyless all-columns fallback (S5)
      "CREATE TABLE NOTES (TXT VARCHAR(50), SEV INT)",
      "INSERT INTO ITEMS VALUES (1, 'one', 10), (2, 'two', 20), (3, 'three', 30)",
      "INSERT INTO NOTES VALUES ('hello', 1), ('world', 2)")

    val tables = DbDiffApp.jdbcTables(spark, "derby", url, "APP")
    assert(tables.map(_.name) == Seq("ITEMS", "NOTES"))
    assert(tables.find(_.name == "ITEMS").get.pk == Seq("ID"))
    assert(tables.find(_.name == "NOTES").get.pk == Seq("TXT", "SEV")) // keyless fallback

    val console = scala.collection.mutable.ArrayBuffer[String]()
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val outside = persisted
    val app = new DbDiffApp(spark, tables, DbDiffApp.jdbcSource(spark, url, "APP"),
      consoleOut = console += _, pinSnapshots = true)

    // iteration 1: nothing changed underneath → empty diff
    assert(app.iterate().totalChanged == 0)

    // the operator changes the database (the reference's "do some work" step)
    sql(
      "UPDATE ITEMS SET VAL = 99 WHERE ID = 2",
      "DELETE FROM ITEMS WHERE ID = 3",
      "INSERT INTO ITEMS VALUES (4, 'four', 40)",
      "UPDATE NOTES SET SEV = 5 WHERE TXT = 'hello'")

    val out = java.nio.file.Paths.get(tempDir("graft_app"), "report.xlsx")
    val r2 = app.iterate(out.toString)
    assert(r2.changedKeys("ITEMS") == 3) // update + delete + insert
    assert(r2.changedKeys("NOTES") == 2) // keyless update = delete + insert keys
    assert(console.exists(_.contains("===ITEMS===")))
    val sheet = DbDiffAppSpec.sheetXml(out.toString)
    assert(sheet.contains("<is><t>ITEMS</t></is>") && sheet.contains("<is><t>NOTES</t></is>"))
    // the updated value made it into the report, as a modified cell
    assert(sheet.contains("s=\"4\"><is><t>99</t></is>"))

    // iteration 3: swap happened, database quiet → empty diff again
    assert(app.iterate().totalChanged == 0)

    // close() releases the last snapshot's pins: no app pin stays persisted
    val pins = app.beforeSnapshot.values
      .flatMap(org.apache.spark.sql.graftshim.RddShim.leafRdd).map(_.id).toSet
    assert(pins.size == 2 && persisted -- outside == pins)
    app.close()
    assert((persisted -- outside).isEmpty)
  }
}
