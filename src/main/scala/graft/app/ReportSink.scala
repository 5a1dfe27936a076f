package graft.app

import graft.TableDef
import graft.operators.{Normalize, RenderQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** S7/S8/S9: the console lines, the styled workbook and its timestamped
  * filename.
  *
  * The reference builds each iteration's output in one walk over the diff:
  * it prints each changed row while it writes that row into the workbook
  * — an orange table-name row, a green header row (`(diff)` + column
  * names), then one styled row per changed record with modified cells
  * highlighted (`cmd/dbdiff/main.go:157-254`). [[writeIteration]] does the
  * same per table: the per-row strings are computed distributed
  * ([[RenderQueries.consoleLine]], [[RenderQueries.xlsxCellRun]]), sorted
  * once, and streamed through `toLocalIterator` — constant driver memory,
  * any diff size, where the reference materializes the whole workbook on
  * the heap.
  */
object ReportSink {
  /** Default-name sentinel, `cmd/dbdiff/main.go:20`. */
  val DefaultOutputName = "dbdiff_yyyymmdd_hhmmss.xlsx"

  /** S9 (`main.go:273-282`): the sentinel becomes a timestamped name; an
    * explicit name passes through. */
  def generateOutFilename(specified: String, now: LocalDateTime): String =
    if (specified == DefaultOutputName)
      "dbdiff_" + now.format(DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")) + ".xlsx"
    else specified

  // ---- S8 proper: the SpreadsheetML (.xlsx) workbook ---------------------

  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replaceAll(RenderQueries.NonXmlChars, "\uFFFD")

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

  /** One iteration's output, one driver pass per table: each table's diff
    * rows are projected to `(__key, side, console line, cell run)`, sorted
    * by key with BEFORE above AFTER for an UPDATED pair (the reference
    * emits before-then-after, `extract_data.go:226-228`), and walked once
    * through `toLocalIterator`. In that walk the driver
    *  - prints the first `maxConsoleRows` console lines (S7), then
    *    `... (truncated at N rows)`, then `===T=== (n rows shown)` — the
    *    reference prints every changed row (`main.go:204-231`); unbounded
    *    stdout is exactly what breaks at scale, so the cap is explicit;
    *  - counts the table's changed keys as `__key` changes in the sorted
    *    stream;
    *  - writes the row into the workbook on `out` (S8).
    *
    * The workbook is the reference sheet exactly (`main.go:100-258`),
    * zero dependencies — xlsx IS a zip of XML parts, written here with
    * `java.util.zip`: tables stacked on Sheet1 from B2 with a 2-row margin,
    * per changed table an orange TableName row, a green bordered header
    * row (`(diff)` + column names), then one row per changed record whose
    * modified cells carry the yellow/red style. Tables with no changes get
    * no block, like the reference (`main.go:160-163`). Returns each
    * table's changed-key count. */
  def writeIteration(diffs: Seq[(TableDef, DataFrame)], out: OutputStream,
      console: String => Unit, maxConsoleRows: Int): Map[String, Long] = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val zip = new ZipOutputStream(out, UTF_8)
    def part(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(UTF_8))
      zip.closeEntry()
    }
    part("[Content_Types].xml", contentTypesXml)
    part("_rels/.rels", rootRelsXml)
    part("xl/workbook.xml", workbookXml)
    part("xl/_rels/workbook.xml.rels", workbookRelsXml)
    part("xl/styles.xml", stylesXml)

    zip.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(zip, UTF_8))
    def cell(style: String, text: String): String =
      (if (style.isEmpty) "<c t=\"inlineStr\">" else s"""<c t="inlineStr" s="$style">""") +
        s"<is><t>${xmlEsc(text)}</t></is></c>"
    w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""")
    w.write("""<cols><col min="2" max="2" width="15" customWidth="1"/></cols><sheetData>""")
    var ri = 2 // DiffResultOffsetForRow, `main.go:101`
    val changed = diffs.map { case (t, d) =>
      val it = d.select(col(Normalize.KeyCol), col("side"),
          RenderQueries.consoleLine(t.cols).as("line"), RenderQueries.xlsxCellRun(t.cols).as("xc"))
        .orderBy(col(Normalize.KeyCol), col("side").desc)
        .toLocalIterator()
      var rows, keys = 0L
      var lastKey: String = null
      while (it.hasNext) {
        val r = it.next()
        if (rows == 0) {
          // table-name + header rows (`main.go:167-196`)
          w.write(s"""<row r="$ri"><c/>${cell("1", "TableName")}${cell("", t.name)}</row>""")
          ri += 1
          w.write(s"""<row r="$ri"><c/>${cell("2", "(diff)")}""" +
            t.cols.map(c => cell("2", c)).mkString + "</row>")
          ri += 1
        }
        if (rows < maxConsoleRows) console(r.getString(2))
        else if (rows == maxConsoleRows) console(s"... (truncated at $maxConsoleRows rows)")
        if (r.getString(0) != lastKey) { keys += 1; lastKey = r.getString(0) }
        w.write(s"""<row r="$ri">"""); w.write(r.getString(3)); w.write("</row>")
        ri += 1
        rows += 1
      }
      val shown = math.min(rows, maxConsoleRows)
      if (shown > 0) console(s"===${t.name}=== ($shown rows shown)")
      if (rows > 0) ri += 2 // DiffResultMargin, `main.go:103,256`
      t.name -> keys
    }.toMap
    w.write("</sheetData></worksheet>")
    w.flush()
    zip.closeEntry()
    zip.finish()
    changed
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
}
