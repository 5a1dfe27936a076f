package graft.app

import graft.TableDef
import graft.operators.{Normalize, RenderQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.Writer
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** S8/S9: the styled diff report and its timestamped filename.
  *
  * The reference renders one Excel block per changed table — an orange
  * table-name row, a green header row (`(diff)` + column names), then one
  * styled row per changed record with modified cells highlighted
  * (`cmd/dbdiff/main.go:157-254`). Excel is a driver-memory sink; the HTML
  * twin here keeps the exact information (status cell, per-cell `mod`
  * marking via `modified_columns`) while the per-row strings are computed
  * distributed ([[RenderQueries.htmlRows]], plain codegen projections).
  *
  * [[writeHtml]] writes those rows as a single styled file for the CLI,
  * streamed through `toLocalIterator` — constant driver memory, any diff
  * size (the reference materializes the whole workbook on the heap).
  */
object ReportSink {
  /** Default-name sentinel, `cmd/dbdiff/main.go:20` (xlsx → html). */
  val DefaultOutputName = "dbdiff_yyyymmdd_hhmmss.html"

  /** S9 (`main.go:273-282`): the sentinel becomes a timestamped name; an
    * explicit name passes through. */
  def generateOutFilename(specified: String, now: LocalDateTime): String =
    if (specified == DefaultOutputName)
      "dbdiff_" + now.format(DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")) + ".html"
    else specified

  private val style =
    """<style>
      |table{border-collapse:collapse}td,th{border:1px solid #000;padding:2px 6px}
      |td.mod{background:#ff0;border:1px solid #f00}
      |th{background:#92d050}.tname{background:#ffc000}
      |</style>""".stripMargin

  /** Deterministic row order for the file: by key, BEFORE before AFTER for
    * an UPDATED pair (the reference emits before-then-after,
    * `extract_data.go:226-228`). */
  private def ordered(htmlRows: DataFrame): DataFrame =
    htmlRows.orderBy(col(Normalize.KeyCol), col("side").desc)

  /** Writes one styled report. `sections` pairs each changed table with its
    * rendered rows ([[RenderQueries.htmlRows]] output); tables with no
    * changes are skipped like the reference (`main.go:160-163`). Returns the
    * number of data rows written. */
  def writeHtml(sections: Seq[(TableDef, DataFrame)], out: Writer): Long = {
    var written = 0L
    out.write(s"<html><head>$style</head><body>\n")
    sections.foreach { case (t, rows) =>
      var headerDone = false
      val it = ordered(rows).select(col("tr")).toLocalIterator()
      while (it.hasNext) {
        if (!headerDone) {
          // table-name + header rows (`main.go:167-196`)
          out.write(s"""<table>\n<tr><td class="tname">TableName</td><td>${t.name}</td></tr>\n""")
          out.write(t.cols.map(c => s"<th>$c</th>").mkString("<tr><th>(diff)</th>", "", "</tr>\n"))
          headerDone = true
        }
        out.write(it.next().getString(0))
        out.write("\n")
        written += 1
      }
      if (headerDone) out.write("</table>\n<br/><br/>\n")
    }
    out.write("</body></html>\n")
    written
  }

  // ---- S8 proper: the SpreadsheetML (.xlsx) workbook ---------------------

  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** `xl/styles.xml` — the reference's four cell styles
    * (`cmd/dbdiff/main.go:116-155`), by cellXfs index:
    * 1 = table-name (orange FFC000 fill), 2 = header (green 92D050 fill +
    * black thin border), 3 = unmodified (black thin border), 4 = modified
    * (yellow FFFF00 fill + red thin border). Fills 0/1 are OOXML's
    * mandatory none/gray125 slots. */
  private val stylesXml: String = {
    def border(rgb: String) =
      s"""<border><left style="thin"><color rgb="$rgb"/></left>""" +
        s"""<right style="thin"><color rgb="$rgb"/></right>""" +
        s"""<top style="thin"><color rgb="$rgb"/></top>""" +
        s"""<bottom style="thin"><color rgb="$rgb"/></bottom><diagonal/></border>"""
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      """<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""" +
      """<fills count="5"><fill><patternFill patternType="none"/></fill>""" +
      """<fill><patternFill patternType="gray125"/></fill>""" +
      """<fill><patternFill patternType="solid"><fgColor rgb="FFFFC000"/></patternFill></fill>""" +
      """<fill><patternFill patternType="solid"><fgColor rgb="FF92D050"/></patternFill></fill>""" +
      """<fill><patternFill patternType="solid"><fgColor rgb="FFFFFF00"/></patternFill></fill></fills>""" +
      s"""<borders count="3"><border><left/><right/><top/><bottom/><diagonal/></border>""" +
      border("FF000000") + border("FFFF0000") + "</borders>" +
      """<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>""" +
      """<cellXfs count="5"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>""" +
      """<xf numFmtId="0" fontId="0" fillId="2" borderId="0" xfId="0" applyFill="1"/>""" +
      """<xf numFmtId="0" fontId="0" fillId="3" borderId="1" xfId="0" applyFill="1" applyBorder="1"/>""" +
      """<xf numFmtId="0" fontId="0" fillId="0" borderId="1" xfId="0" applyBorder="1"/>""" +
      """<xf numFmtId="0" fontId="0" fillId="4" borderId="2" xfId="0" applyFill="1" applyBorder="1"/>""" +
      "</cellXfs></styleSheet>"
  }

  private val contentTypesXml: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
      """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
      "</Types>"

  private val rootRelsXml: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
      "</Relationships>"

  private val workbookXml: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
      """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""

  private val workbookRelsXml: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
      """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>""" +
      "</Relationships>"

  /** S8 proper: one styled .xlsx workbook, zero dependencies — xlsx IS a
    * zip of XML parts, written here with `java.util.zip`. Layout matches
    * the reference sheet exactly (`cmd/dbdiff/main.go:100-258`): tables
    * stacked on Sheet1 from B2 with a 2-row margin, per table an orange
    * TableName row, a green bordered header row (`(diff)` + column names),
    * then one row per changed record whose modified cells carry the
    * yellow/red style. Cell runs arrive pre-rendered and DISTRIBUTED
    * ([[RenderQueries.xlsxCells]]); assembly streams through
    * `toLocalIterator` like [[writeHtml]] — constant driver memory where
    * the reference materializes the whole workbook on the heap. Returns
    * the number of data rows written. */
  def writeXlsx(sections: Seq[(TableDef, DataFrame)], out: java.io.OutputStream): Long = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val zip = new ZipOutputStream(out, java.nio.charset.StandardCharsets.UTF_8)
    def part(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    part("[Content_Types].xml", contentTypesXml)
    part("_rels/.rels", rootRelsXml)
    part("xl/workbook.xml", workbookXml)
    part("xl/_rels/workbook.xml.rels", workbookRelsXml)
    part("xl/styles.xml", stylesXml)

    zip.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(zip, java.nio.charset.StandardCharsets.UTF_8))
    def cell(style: String, text: String): String =
      (if (style.isEmpty) "<c t=\"inlineStr\">" else s"""<c t="inlineStr" s="$style">""") +
        s"<is><t>${xmlEsc(text)}</t></is></c>"
    w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""")
    w.write("""<cols><col min="2" max="2" width="15" customWidth="1"/></cols><sheetData>""")
    var written = 0L
    var ri = 2 // DiffResultOffsetForRow, `main.go:101`
    sections.foreach { case (t, rows) =>
      var headerDone = false
      val it = ordered(rows.withColumnRenamed("xc", "tr")).select(col("tr")).toLocalIterator()
      while (it.hasNext) {
        if (!headerDone) {
          w.write(s"""<row r="$ri"><c/>${cell("1", "TableName")}${cell("", t.name)}</row>""")
          ri += 1
          w.write(s"""<row r="$ri"><c/>${cell("2", "(diff)")}""" +
            t.cols.map(c => cell("2", c)).mkString + "</row>")
          ri += 1
          headerDone = true
        }
        w.write(s"""<row r="$ri">"""); w.write(it.next().getString(0)); w.write("</row>")
        ri += 1
        written += 1
      }
      if (headerDone) ri += 2 // DiffResultMargin, `main.go:103,256`
    }
    w.write("</sheetData></worksheet>")
    w.flush()
    zip.closeEntry()
    zip.finish()
    written
  }

  /** S10 (`cmd/dbdiff/main.go:261-269`): hand the written report to the
    * OS viewer. The reference spawns `/usr/bin/open` (macOS) or `cmd /C`
    * (Windows) and `log.Fatalf`s on failure; here Linux additionally gets
    * `xdg-open`, failure is NON-fatal (a headless deployment has no
    * viewer, and killing the diff loop over a cosmetic spawn is the wrong
    * trade), and the launcher is injectable so the spec pins the exact
    * command without spawning anything. Returns whether a viewer launched. */
  def openInViewer(path: String,
      os: String = sys.props.getOrElse("os.name", "").toLowerCase,
      launch: Seq[String] => Unit = cmd => { new ProcessBuilder(cmd: _*).start(); () }): Boolean = {
    val cmd =
      if (os.contains("mac") || os.contains("darwin")) Some(Seq("/usr/bin/open", path))
      else if (os.contains("win")) Some(Seq("cmd", "/C", path))
      else if (os.contains("linux")) Some(Seq("xdg-open", path))
      else None
    cmd.exists { c => try { launch(c); true } catch { case _: Throwable => false } }
  }

  /** S7 console sink: streams renderer lines to `out`, at most `maxRows`
    * (the reference prints every changed row, `main.go:204-231` — unbounded
    * stdout is exactly what breaks at scale, so the cap is explicit). */
  def printConsole(lines: DataFrame, out: String => Unit, maxRows: Int): Long = {
    val it = ordered(lines.withColumnRenamed("line", "tr")).select(col("tr")).toLocalIterator()
    var n = 0L
    while (it.hasNext && n < maxRows) { out(it.next().getString(0)); n += 1 }
    if (it.hasNext) out(s"... (truncated at $maxRows rows)")
    n
  }
}
