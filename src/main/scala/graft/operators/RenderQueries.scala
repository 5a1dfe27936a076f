package graft.operators

import graft.{TableDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Diff-result renderers — the reference's two report surfaces, re-expressed
  * as codegen'd string projections over [[SnapshotDiff.diff]] output so they
  * run distributed and are oracle-checkable.
  *
  * - Console renderer (S7/P4): the reference prints one line per changed row
  *   — a fixed-width status label (`cmd/dbdiff/main.go:204-231`) followed by
  *   the row's debug string `([col:val][col:val]...)`
  *   (`extract_data.go:135-147`, `RowObject.String`).
  * - Styled report (S8): the reference writes an Excel sheet where modified
  *   cells get a highlight style keyed off `ModifiedColumnIndex`
  *   (`cmd/dbdiff/main.go:235-243`). [[xlsxCellRun]] renders each row's
  *   SpreadsheetML cell run with that style on exactly the cells named in
  *   `modified_columns`; [[htmlRows]] is the same classification as one
  *   HTML `<tr>` per row, kept as an oracle-checked query
  *   (`render_html_customer`).
  *
  * All renderers are plain `concat`/`when` expression trees — they stay in
  * whole-stage codegen, add no shuffle on top of the diff, and scale to any
  * row count. [[consoleLine]] and [[xlsxCellRun]] are the column
  * expressions the application's report pass projects side by side
  * ([[graft.app.ReportSink.writeIteration]]), so one sorted walk over the
  * diff prints the console and streams the workbook.
  */
object RenderQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Fixed-width status labels, byte-for-byte from `main.go:204,216,228,231`. */
  val InsertedLabel = "INSERTED        "
  val DeletedLabel  = "DELETED         "
  val UpdBeforeLabel = "UPDATED[Before] "
  val UpdAfterLabel  = "UPDATED[After ] "

  /** Short status cell text used in the styled report (`main.go:206-231`),
    * including the reference's literal double space in "UPD  AFTER". */
  private val statusCell: Column =
    when(col("diff_status") === SnapshotDiff.Inserted, "INSERTED")
      .when(col("diff_status") === SnapshotDiff.Deleted, "DELETED")
      .when(col("side") === "BEFORE", "UPD BEFORE")
      .otherwise("UPD  AFTER")

  /** `RowObject.String` (`extract_data.go:135-147`): `([col:val]...)` in
    * column order. Values are already normalized non-null strings. */
  private def rowString(cols: Seq[String]): Column =
    concat(
      lit("(") +:
        cols.flatMap(c => Seq(lit(s"[$c:"), col(c), lit("]"))) :+
        lit(")"): _*)

  /** A diff row's console line: status label, `": "`, row string. */
  def consoleLine(cols: Seq[String]): Column = {
    val label = when(col("diff_status") === SnapshotDiff.Inserted, InsertedLabel)
      .when(col("diff_status") === SnapshotDiff.Deleted, DeletedLabel)
      .when(col("side") === "BEFORE", UpdBeforeLabel)
      .otherwise(UpdAfterLabel)
    concat(label, lit(": "), rowString(cols))
  }

  /** Console renderer: one `(__key, side, line)` row per diff row. */
  def consoleLines(diffed: DataFrame, cols: Seq[String]): DataFrame =
    diffed.select(col(Normalize.KeyCol), col("side"), consoleLine(cols).as("line"))

  /** Minimal HTML text escape (shared subset: nested `replace`). */
  private def esc(c: Column): Column =
    replace(replace(replace(c, lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))

  /** Styled-report renderer: one `(__key, side, tr)` row per diff row; the
    * cells named in `modified_columns` (UPDATED rows only) carry
    * `class="mod"` — the Excel highlight's HTML analogue. */
  def htmlRows(diffed: DataFrame, cols: Seq[String]): DataFrame = {
    val mods = split(col("modified_columns"), ",")
    val cells = cols.map { c =>
      val td = when(array_contains(mods, c), lit("<td class=\"mod\">"))
        .otherwise(lit("<td>"))
      concat(td, esc(col(c)), lit("</td>"))
    }
    diffed.select(col(Normalize.KeyCol), col("side"),
      concat(lit("<tr><td>") +: statusCell +: lit("</td>") +: cells :+ lit("</tr>"): _*)
        .as("tr"))
  }

  /** Code points outside XML 1.0's `Char` production (C0 controls other
    * than tab, LF and CR; lone surrogates; U+FFFE/U+FFFF). No XML parser
    * accepts them, so the workbook writes U+FFFD in their place, as Go's
    * `encoding/xml` escaping does. */
  val NonXmlChars = "[^\\t\\n\\r\\x{20}-\\x{D7FF}\\x{E000}-\\x{FFFD}\\x{10000}-\\x{10FFFF}]"

  /** A diff row's SpreadsheetML cell run — the reference's S8 sink
    * (`cmd/dbdiff/main.go:204-246`) as inline-string `<c>` elements:
    * style `s="3"` (black thin border) on the status cell and unmodified
    * cells, `s="4"` (yellow fill, red border) on exactly the cells named
    * in `modified_columns`, mirroring the reference's
    * modCellStyle/unmodCellStyle split keyed off `ModifiedColumnIndex`
    * (`main.go:235-243`). Same classification expression as [[htmlRows]].
    * Cells carry no `r=` coordinate (OOXML lays r-less cells out
    * sequentially), so the run is position-independent: the report pass
    * wraps it in `<row r="...">` while streaming, and the leading `<c/>`
    * pads column A (the reference's 2-column offset, `main.go:101-102`).
    * One `regexp_replace` over the whole run maps [[NonXmlChars]] to
    * U+FFFD; the markup itself holds none. */
  def xlsxCellRun(cols: Seq[String]): Column = {
    val mods = split(col("modified_columns"), ",")
    val cells = cols.map { c =>
      val open = when(array_contains(mods, c), lit("<c t=\"inlineStr\" s=\"4\"><is><t>"))
        .otherwise(lit("<c t=\"inlineStr\" s=\"3\"><is><t>"))
      concat(open, esc(col(c)), lit("</t></is></c>"))
    }
    val statusC = concat(lit("<c t=\"inlineStr\" s=\"3\"><is><t>"), esc(statusCell),
      lit("</t></is></c>"))
    regexp_replace(concat(lit("<c/>") +: statusC +: cells: _*), NonXmlChars, "\uFFFD")
  }

  val queries: Map[String, Q] = Map(
    "render_console_orders" -> ((spark, sfDir) => {
      val t = Tables.orders
      val before = Tables.load(spark, sfDir, t.name)
      val diffed = SnapshotDiff.diff(before, DiffQueries.after(spark, sfDir, t), t.pk)
      consoleLines(diffed, t.cols)
    }),
    "render_html_customer" -> ((spark, sfDir) => {
      val t = Tables.customer
      val before = Tables.load(spark, sfDir, t.name)
      val diffed = SnapshotDiff.diff(before, DiffQueries.after(spark, sfDir, t), t.pk)
      htmlRows(diffed, t.cols)
    })
  )

  // ---- oracle SQL ----------------------------------------------------------

  private def consoleSql(t: TableDef): String = {
    val (ctes, _) = DiffOracle.diffParts(t, graft.operators.Mutations.afterSql(t.name), t.pk, t.name + "_r")
    val rowstr = "concat('(', " +
      t.cols.map(c => s"'[$c:', $c, ']'").mkString(", ") + ", ')')"
    val label =
      s"""CASE WHEN diff_status = 'INSERTED' THEN '$InsertedLabel'
         |     WHEN diff_status = 'DELETED' THEN '$DeletedLabel'
         |     WHEN side = 'BEFORE' THEN '$UpdBeforeLabel'
         |     ELSE '$UpdAfterLabel' END""".stripMargin
    "WITH " + ctes.map { case (n, q) => s"$n AS (\n$q\n)" }.mkString(",\n") +
      s"\nSELECT __key, side, concat($label, ': ', $rowstr) AS line FROM ${t.name}_r_out"
  }

  private def htmlSql(t: TableDef): String = {
    val (ctes, _) = DiffOracle.diffParts(t, graft.operators.Mutations.afterSql(t.name), t.pk, t.name + "_r")
    def escS(v: String): String =
      s"replace(replace(replace($v, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    val cells = t.cols.map { c =>
      // membership in the comma-joined modified list, no array functions
      // (DuckDB list_contains vs Spark array_contains — LIKE is the shared form)
      s"""CASE WHEN concat(',', modified_columns, ',') LIKE '%,$c,%'
         |     THEN '<td class="mod">' ELSE '<td>' END, ${escS(c)}, '</td>'""".stripMargin
    }
    val status =
      """CASE WHEN diff_status = 'INSERTED' THEN 'INSERTED'
        |     WHEN diff_status = 'DELETED' THEN 'DELETED'
        |     WHEN side = 'BEFORE' THEN 'UPD BEFORE'
        |     ELSE 'UPD  AFTER' END""".stripMargin
    "WITH " + ctes.map { case (n, q) => s"$n AS (\n$q\n)" }.mkString(",\n") +
      s"\nSELECT __key, side, concat('<tr><td>', $status, '</td>', " +
      cells.mkString(", ") + s", '</tr>') AS tr FROM ${t.name}_r_out"
  }

  val oracleSql: Map[String, String] = Map(
    "render_console_orders" -> consoleSql(Tables.orders),
    "render_html_customer" -> htmlSql(Tables.customer)
  )
}
