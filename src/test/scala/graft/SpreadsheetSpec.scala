package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.Spreadsheet

/** XLSX/CSV flattening generators (SURVEY.md §2.1; ref
  * flattening/XlsxGenerator.scala:105, locators/SimpleLocators.scala).
  * The xlsx bytes are hand-written XML emulating Excel's output (shared
  * strings, skipped cells, numeric cells, multiple sheets) so the reader is
  * tested against the FORMAT, not against a writer of ours. */
class SpreadsheetSpec extends SparkSpec {
  import spark.implicits._

  private def xlsxBytes: Array[Byte] = {
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheets><sheet name="data" sheetId="1"/><sheet name="other" sheetId="2"/></sheets>
        |</workbook>""".stripMargin
    val shared =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="5" uniqueCount="5">
        |<si><t>North</t></si><si><t>South</t></si><si><t>END</t></si><si><t>Q1</t></si><si><t>Q2</t></si>
        |</sst>""".stripMargin
    // quarter header row with a leading gap (no A1); ints and a double
    val sheet1 =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="B1" t="s"><v>3</v></c><c r="C1" t="s"><v>3</v></c><c r="D1" t="s"><v>4</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>0</v></c><c r="B2"><v>10</v></c><c r="C2"><v>20</v></c><c r="D2"><v>30</v></c></row>
        |<row r="3"><c r="A3" t="s"><v>1</v></c><c r="B3"><v>40</v></c><c r="C3"><v>5.5</v></c><c r="D3"><v>6</v></c></row>
        |<row r="4"><c r="A4" t="s"><v>2</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val sheet2 =
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>only</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    for ((name, content) <- Seq(
      "xl/workbook.xml" -> workbook, "xl/sharedStrings.xml" -> shared,
      "xl/worksheets/sheet1.xml" -> sheet1, "xl/worksheets/sheet2.xml" -> sheet2)) {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    zip.close()
    bos.toByteArray
  }



  test("xlsxRows: shared strings, cell gaps, int/double rendering, sheet by name") {
    val rows = Spreadsheet.xlsxRows(xlsxBytes, Some("data"))
    assert(rows(0) == IndexedSeq("", "Q1", "Q1", "Q2"))
    assert(rows(1) == IndexedSeq("North", "10", "20", "30"))
    assert(rows(2) == IndexedSeq("South", "40", "5.5", "6"))
    assert(rows(3) == IndexedSeq("END"))
    assert(Spreadsheet.xlsxRows(xlsxBytes, Some("other")) == Seq(IndexedSeq("only")))
    assert(Spreadsheet.colIndex("A1") == 0 && Spreadsheet.colIndex("AB3") == 27)
  }

  test("xlsxFlattened emits hierarchy-resolved records and honors the end marker") {
    val dir = java.nio.file.Files.createTempDirectory("xlsx").toFile
    val f = new java.io.File(dir, "book.xlsx")
    val out = new FileOutputStream(f); out.write(xlsxBytes); out.close()
    val df = Spreadsheet.xlsxFlattened(spark, f.getAbsolutePath, Some("data"),
      "sales", dataColStart = 1, dataColEnd = None, SpreadsheetSpec.hierarchy _,
      endFieldCol = 0, endField = "END")
    val got = df.select("quarter", "region", "sales")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("Q1", "North", "10"), ("Q1", "North", "20"), ("Q2", "North", "30"),
      ("Q1", "South", "40"), ("Q1", "South", "5.5"), ("Q2", "South", "6")))
    // the same records through the verbatim XlsxGenerator config
    val viaFlow = graft.engine.Flow.runSingle(spark,
      SpreadsheetSpec.generatorFlow("XlsxGenerator", f.getAbsolutePath))
      .select("quarter", "region", "sales").as[(String, String, String)].collect().toSet
    assert(viaFlow == got)
  }

  test("csvFlattened parity: same hierarchy over the CSV cousin gives the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("csvflat").toFile
    val f = new java.io.File(dir, "book.csv")
    val w = new java.io.PrintWriter(f)
    w.println(",Q1,Q1,Q2"); w.println("North,10,20,30")
    w.println("South,40,5.5,6"); w.println("END"); w.close()
    val csv = Spreadsheet.csvFlattened(spark, f.getAbsolutePath, "sales",
      dataColStart = 1, dataColEnd = None, SpreadsheetSpec.hierarchy _,
      endFieldCol = 0, endField = "END")
      .select("quarter", "region", "sales").as[(String, String, String)].collect().toSet
    val xdir = java.nio.file.Files.createTempDirectory("xlsx2").toFile
    val xf = new java.io.File(xdir, "book.xlsx")
    val out = new FileOutputStream(xf); out.write(xlsxBytes); out.close()
    val xlsx = Spreadsheet.xlsxFlattened(spark, xf.getAbsolutePath, Some("data"),
      "sales", dataColStart = 1, dataColEnd = None, SpreadsheetSpec.hierarchy _,
      endFieldCol = 0, endField = "END")
      .select("quarter", "region", "sales").as[(String, String, String)].collect().toSet
    assert(csv == xlsx && csv.size == 6)
  }

  test("plain xlsx read with header row") {
    val dir = java.nio.file.Files.createTempDirectory("xlsxp").toFile
    val f = new java.io.File(dir, "book.xlsx")
    val out = new FileOutputStream(f); out.write(xlsxBytes); out.close()
    val df = Spreadsheet.xlsx(spark, f.getAbsolutePath, Some("data"), header = true)
    // header row has a blank first cell -> positional fallback c0
    assert(df.columns.toSeq == Seq("c0", "Q1", "Q1", "Q2"))
    assert(df.count() == 3)
  }

  test("sheet names resolve through workbook.xml.rels when order and file names decouple") {
    // "data" is listed FIRST but its relationship targets sheet5.xml — the
    // positional fallback would read the wrong part
    val workbook =
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="data" sheetId="1" r:id="rId9"/>
        |<sheet name="other" sheetId="2" r:id="rId3"/></sheets>
        |</workbook>""".stripMargin
    val rels =
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId9" Type="t" Target="worksheets/sheet5.xml"/>
        |<Relationship Id="rId3" Type="t" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin
    def sheetXml(v: String) =
      s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
         |<row r="1"><c r="A1" t="inlineStr"><is><t>$v</t></is></c></row>
         |</sheetData></worksheet>""".stripMargin
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    for ((name, content) <- Seq(
      "xl/workbook.xml" -> workbook, "xl/_rels/workbook.xml.rels" -> rels,
      "xl/worksheets/sheet1.xml" -> sheetXml("wrong"),
      "xl/worksheets/sheet5.xml" -> sheetXml("right"))) {
      zip.putNextEntry(new ZipEntry(name)); zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    zip.close()
    assert(Spreadsheet.xlsxRows(bos.toByteArray, Some("data")) == Seq(IndexedSeq("right")))
    assert(Spreadsheet.xlsxRows(bos.toByteArray, Some("other")) == Seq(IndexedSeq("wrong")))
  }

  test("cellRangeSplitter expands a start/end cell across columns") {
    val node = Spreadsheet.cellRangeSplitter("year", 0, 0, "-")
    val rows = Iterator(
      IndexedSeq("2020-2022"),
      IndexedSeq("a", "b", "c"))
    val got = Spreadsheet.flattenSheet(rows, "v", 0, None, List(node)).toSeq
    assert(got.map(_("year")) == Seq("2020", "2020", "2021", "2022"))
  }

  test("cellRangeSplitter: literal contains-gate, regex split (ref SimpleLocators.scala:85-86)") {
    // The reference gates on LITERAL contains(separator) but passes the
    // separator to String.split as a REGEX — so a meta-character separator
    // that never literally appears leaves the cell whole (single cycled value).
    val node = Spreadsheet.cellRangeSplitter("year", 0, 0, "\\s*to\\s*")
    val rows = Iterator(
      IndexedSeq("2020 to 2022"),
      IndexedSeq("a", "b", "c"))
    val got = Spreadsheet.flattenSheet(rows, "v", 0, None, List(node)).toSeq
    assert(got.map(_("year")).distinct == Seq("2020 to 2022"))
  }

  test("parseCsvLine handles quotes and escaped quotes") {
    assert(Spreadsheet.parseCsvLine("""a,"b,c",d""") == IndexedSeq("a", "b,c", "d"))
    assert(Spreadsheet.parseCsvLine("x,\"say \"\"hi\"\"\",z") == IndexedSeq("x", "say \"hi\"", "z"))
  }

  test("parseCsvLine honors custom quote and escape chars (opencsv contract)") {
    // custom quote: separators inside quoted fields are data
    assert(Spreadsheet.parseCsvLine("a,'b,c',d", ',', quote = '\'') ==
      IndexedSeq("a", "b,c", "d"))
    // the escape char escapes ONLY in-quotes or mid-field (opencsv gates
    // on inQuotes || inField): at the very start of an unquoted field it
    // is a literal, and the following quote OPENS a quoted section — so
    // the separator inside stays data
    assert(Spreadsheet.parseCsvLine("""a,\"x,b""", ',') ==
      IndexedSeq("a", """\x,b"""))
    // mid-field, the escape applies: escaped quote is a literal quote
    assert(Spreadsheet.parseCsvLine("""a,x\"y,b""", ',') ==
      IndexedSeq("a", "x\"y", "b"))
    // escape-the-escape yields one literal escape char (mid-field)
    assert(Spreadsheet.parseCsvLine("""a\\b,c""", ',') ==
      IndexedSeq("""a\b""", "c"))
    // custom escape char '~' at unquoted-field start is likewise literal,
    // with the quote opening a section (traced against opencsv CSVParser)
    assert(Spreadsheet.parseCsvLine("a;~'x;'y;z'", ';', quote = '\'', escape = '~') ==
      IndexedSeq("a", "~x;y", "z"))
    // in-quotes, the custom escape escapes the custom quote
    assert(Spreadsheet.parseCsvLine("'a~'b';c", ';', quote = '\'', escape = '~') ==
      IndexedSeq("a'b", "c"))
  }

  test("flattening CsvGenerator FQCN plumbs quote/escape; multi-char values reject") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csvq").toFile
    val f = new java.io.File(dir, "q.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("Q1|x")
    w.println("'a|b'|2")   // custom quote keeps the separator as data
    w.close()
    def flow(extra: String) = s"""
    { "generators": [
        {"id": "g", "name": "tuktu.csv.generators.flattening.CsvGenerator",
         "result": "r", "config": {"filename": "${f.getAbsolutePath}",
           "value_name": "v", "data_start_col": 0, "flattened": true,
           "separator": "|"$extra,
           "locators": [{"name": "quarter", "type": "tuktu.csv.locators.Row",
                         "params": {"offset": 0}}]},
         "next": []} ],
      "processors": [] }"""
    val got = graft.engine.Flow.runSingle(spark, flow(", \"quote\": \"'\""))
      .select("v").collect().map(_.getString(0)).sorted.toSeq
    assert(got.contains("a|b"), got.toString)
    val ex = intercept[Exception](
      graft.engine.Flow.runSingle(spark, flow(", \"quote\": \"''\"")))
    assert(ex.getMessage.contains("one character"), ex.getMessage)
  }
}

/** Hierarchy factory lives outside the suite so the Spark closure doesn't
  * capture the (non-serializable) test class. */
object SpreadsheetSpec {
  def hierarchy(): List[Spreadsheet.ParseNode] = List(
    Spreadsheet.rowLocator("quarter", 0),
    Spreadsheet.columnLocator("region", 0, rowStart = 1))

  /** [[hierarchy]] as a flattening generator's verbatim flow config. */
  def generatorFlow(generator: String, path: String): String = s"""
    { "generators": [
        {"id": "g", "name": "tuktu.csv.generators.flattening.$generator", "result": "r",
         "config": {"filename": "$path", "sheet_name": "data", "value_name": "sales",
           "data_start_col": 1, "flattened": true,
           "end_field": {"column": 0, "value": "END"},
           "locators": [
             {"name": "quarter", "type": "tuktu.csv.locators.Row", "params": {"offset": 0}},
             {"name": "region", "type": "tuktu.csv.locators.Column",
              "params": {"offset": 0, "row_start": 1}}]},
         "next": []} ] }"""
}
