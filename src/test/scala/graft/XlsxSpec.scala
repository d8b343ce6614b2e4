package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.{LocalDate, LocalDateTime}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{XlsxCell, XlsxReader, XlsxSheet, XlsxWriter}

class XlsxSpec extends AnyFunSuite {

  private def zip(entries: (String, String)*): Array[Byte] = {
    val bout = new ByteArrayOutputStream()
    val zout = new ZipOutputStream(bout)
    entries.foreach { case (name, content) =>
      zout.putNextEntry(new ZipEntry(name))
      zout.write(content.getBytes(StandardCharsets.UTF_8))
      zout.closeEntry()
    }
    zout.close()
    bout.toByteArray
  }

  /** Hand-authored OOXML parts — deliberately NOT produced by XlsxWriter,
    * so the reader is validated against the spec'd format itself. */
  private def handAuthored: Array[Byte] = zip(
    "_rels/.rels" ->
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin,
    "xl/workbook.xml" ->
      """<?xml version="1.0"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="alpha" sheetId="1" r:id="rId1"/>
        |<sheet name="beta" sheetId="2" r:id="rId2"/></sheets></workbook>""".stripMargin,
    "xl/_rels/workbook.xml.rels" ->
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
        |<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
        |<Relationship Id="rId4" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>
        |</Relationships>""".stripMargin,
    "xl/sharedStrings.xml" ->
      // entry 1 is a rich-text run: its <t> pieces must concatenate
      """<?xml version="1.0"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">
        |<si><t>plain shared</t></si>
        |<si><r><t>rich </t></r><r><rPr><b/></rPr><t>text</t></r></si>
        |</sst>""".stripMargin,
    "xl/styles.xml" ->
      // cellXfs: 0 general, 1 builtin date (14), 2 custom datetime (165),
      // 3 custom NON-date ([Red] + quoted literal must not trip detection)
      """<?xml version="1.0"?>
        |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="2">
        |<numFmt numFmtId="165" formatCode="yyyy&quot;y&quot; mm hh:ss"/>
        |<numFmt numFmtId="166" formatCode="[Red]&quot;days&quot;0.00"/>
        |</numFmts>
        |<cellXfs count="4"><xf numFmtId="0"/><xf numFmtId="14"/>
        |<xf numFmtId="165"/><xf numFmtId="166"/></cellXfs>
        |</styleSheet>""".stripMargin,
    "xl/worksheets/sheet1.xml" ->
      // A1 shared, C1 rich shared (B1 gap → ""), A2 inline, B2 number,
      // C2 float, D2 bool, A4 date serial (style 1), B4 datetime (style 2),
      // C4 time-only serial, D4 number in non-date custom style; row 3 absent
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><t>inline!</t></is></c>
        |<c r="B2"><v>42</v></c><c r="C2"><v>6.2</v></c>
        |<c r="D2" t="b"><v>1</v></c></row>
        |<row r="4"><c r="A4" s="1"><v>33735</v></c>
        |<c r="B4" s="2"><v>33735.5636574074</v></c>
        |<c r="C4" s="1"><v>0.75</v></c>
        |<c r="D4" s="3"><v>3.5</v></c></row>
        |</sheetData>
        |<mergeCells count="1"><mergeCell ref="A6:B7"/></mergeCells>
        |</worksheet>""".stripMargin,
    "xl/worksheets/sheet2.xml" ->
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>7</v></c></row>
        |</sheetData></worksheet>""".stripMargin)

  test("hand-authored workbook: strings, numbers, dates, bools, ragged rows") {
    val bytes = handAuthored
    assert(XlsxReader.sheetNames(bytes) == Seq("alpha", "beta"))
    val rows = XlsxReader.readSheet(bytes, "alpha")
      .map(r => r.rowIdx -> r.cells).toMap
    assert(rows(0L) == Seq("plain shared", "", "rich text"))
    assert(rows(1L) == Seq("inline!", "42", "6.2", "true"))
    assert(!rows.contains(2L)) // absent row is not fabricated
    // 33735 = 1992-05-11; .5636574074 of a day = 13:31:40; 0.75 = 18:00:00
    assert(rows(3L) == Seq("1992-05-11", "1992-05-11 13:31:40", "18:00:00", "3.5"))
    val beta = XlsxReader.readSheet(bytes, "beta")
    assert(beta == Seq(graft.sources.XlsxSheetRow("beta", 0L, Seq("plain shared", "7"))))
  }

  test("optional refs and phonetic runs: ref-less cells place sequentially, " +
      "rPh text is excluded from shared strings") {
    // r14 review: ECMA-376 makes r optional on <c> (position = next
    // column) and <rPh> holds the furigana READING, not the text
    val bytes = zip(
      "_rels/.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin,
      "xl/workbook.xml" ->
        """<?xml version="1.0"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
          |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>
          |</Relationships>""".stripMargin,
      "xl/sharedStrings.xml" ->
        """<?xml version="1.0"?>
          |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="1" uniqueCount="1">
          |<si><t>東京</t><rPh sb="0" eb="2"><t>トウキョウ</t></rPh><phoneticPr fontId="1"/></si>
          |</sst>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        // row 1: NO cell refs at all → A1, B1 sequentially;
        // row 2: explicit B2 then a ref-less cell → lands in C2
        """<?xml version="1.0"?>
          |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<sheetData>
          |<row r="1"><c t="s"><v>0</v></c><c><v>5</v></c></row>
          |<row r="2"><c r="B2"><v>1</v></c><c><v>2</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val rows = XlsxReader.readSheet(bytes, "s")
      .map(r => r.rowIdx -> r.cells).toMap
    assert(rows(0L) == Seq("東京", "5"), rows(0L))
    assert(rows(1L) == Seq("", "1", "2"), rows(1L))
  }

  test("merged ranges fill only when asked") {
    // anchor A6 has a value in a second variant of the sheet
    val plain = XlsxReader.readSheet(handAuthored, "alpha")
    assert(!plain.exists(_.rowIdx == 5L)) // covered cells absent by default

    val filled = XlsxReader.readSheet(handAuthored, "alpha", fillMerged = true)
      .map(r => r.rowIdx -> r.cells).toMap
    // A6:B7 had no anchor value → fills ""; rows materialize
    assert(filled(5L) == Seq("", ""))
    assert(filled(6L) == Seq("", ""))
  }

  test("date-format detection: tokens outside brackets/quotes only") {
    assert(XlsxReader.isDateFormatCode("yyyy-mm-dd"))
    assert(XlsxReader.isDateFormatCode("hh:mm"))
    assert(XlsxReader.isDateFormatCode("""yyyy\-mm"""))
    assert(!XlsxReader.isDateFormatCode("0.00"))
    assert(!XlsxReader.isDateFormatCode("#,##0"))
    assert(!XlsxReader.isDateFormatCode("[Red]0.00"))
    assert(!XlsxReader.isDateFormatCode("\"dy\"0"))
    assert(!XlsxReader.isDateFormatCode("General"))
  }

  test("writer/reader roundtrip incl merged fill and types") {
    val sheets = Seq(
      XlsxSheet("data", Seq(
        Seq(XlsxCell.Str("hdr"), XlsxCell.Str("x & <y>")),
        Seq(XlsxCell.Str("grp"), XlsxCell.Blank, XlsxCell.Num(5)),
        Seq(XlsxCell.Num(1.5), XlsxCell.Bool(false),
          XlsxCell.Date(LocalDate.of(2026, 2, 28)),
          XlsxCell.DateTime(LocalDateTime.of(2026, 2, 28, 23, 59, 59)))),
        merges = Seq("A2:B2")))
    val bytes = XlsxWriter.write(sheets)
    assert(XlsxReader.sheetNames(bytes) == Seq("data"))
    val rows = XlsxReader.readSheet(bytes, "data").map(_.cells)
    assert(rows == Seq(
      Seq("hdr", "x & <y>"),
      Seq("grp", "", "5"),
      Seq("1.5", "false", "2026-02-28", "2026-02-28 23:59:59")))
    val filled = XlsxReader.readSheet(bytes, "data", fillMerged = true).map(_.cells)
    assert(filled(1) == Seq("grp", "grp", "5")) // anchor propagated
  }

  test("committed fixture decodes to the q37 VALUES table") {
    val bytes = Fixtures.wasdeXlsxBytes
    assert(XlsxReader.sheetNames(bytes) == Seq("p18", "p19", "notes"))
    val p18 = XlsxReader.readSheet(bytes, "p18")
      .map(r => r.rowIdx -> r.cells.padTo(8, "")).toMap
    assert(p18(3L) == Seq("Brazil", "1", "2", "3", "4", "5", "6", "7"))
    assert(p18(4L) == Seq("", "9", "9", "NA", "", "2", "1", "4"))
    assert(p18(9L) == Seq("China 10/", "5", "0", "98", "", "101", "0", "30"))
    val notes = XlsxReader.readSheet(bytes, "notes").map(_.cells)
    assert(notes(0) == Seq("released", "2026-05-12"))
    assert(notes(1) == Seq("run at", "2026-05-12 13:45:30"))
    assert(notes(2) == Seq("revision", "3.25", "true"))
  }

  test("q73 DataFrame projection survives ragged rows (ANSI element_at trap)") {
    // The fixture's p18 rows are genuinely ragged (row 4 has 7 cells, row 0
    // has 1); the query-side projection must read absent trailing cells as
    // "" THROUGH the DataFrame layer — ANSI element_at throws
    // INVALID_ARRAY_INDEX_IN_ELEMENT_AT here, so this must stay
    // try_element_at. Padding in Scala (as the fixture-decode test does)
    // cannot catch that, hence this end-to-end assertion.
    val spark = SparkTestBase.session
    val q73 = SparkEntry.queries("q73_xlsx_wasde")(spark, "unused")
    val q37 = SparkEntry.queries("q37_wasde_parse")(spark, "unused")
    val key = (r: org.apache.spark.sql.Row) => r.toString
    assert(q73.collect().map(key).sorted.toSeq ==
      q37.collect().map(key).sorted.toSeq)
    assert(q73.count() > 0)
  }

  test("workbook part at package root (no xl/ dir) resolves its rels") {
    val bytes = zip(
      "_rels/.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="/workbook.xml"/>
          |</Relationships>""".stripMargin,
      "workbook.xml" ->
        """<?xml version="1.0"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="only" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin,
      "_rels/workbook.xml.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="sheet1.xml"/>
          |</Relationships>""".stripMargin,
      "sheet1.xml" ->
        """<?xml version="1.0"?>
          |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<sheetData><row r="1"><c r="A1"><v>11</v></c></row></sheetData>
          |</worksheet>""".stripMargin)
    assert(XlsxReader.sheetNames(bytes) == Seq("only"))
    assert(XlsxReader.readSheet(bytes, "only").map(_.cells) == Seq(Seq("11")))
  }

  test("zip64 EOCD sentinels accepted only with the zip64 locator present") {
    // r16 ADVICE: 0xFFFFFFFF in cdSize/cdOffset disables the geometry
    // test, so a truncated tail carrying those bytes parsed silently;
    // genuine zip64 archives always ship the 20-byte EOCD locator
    // (PK\x06\x07) immediately before the EOCD record — require it.
    val base = handAuthored
    val i0 = (base.length - 22 to 0 by -1).find(i =>
      base(i) == 0x50 && base(i + 1) == 0x4b &&
        base(i + 2) == 0x05 && base(i + 3) == 0x06).get
    val withSent = base.clone()
    java.util.Arrays.fill(withSent, i0 + 12, i0 + 20, 0xff.toByte)
    // sentinels with NO locator: must stay loud (truncation posture)
    assertThrows[IllegalArgumentException](XlsxReader.sheetNames(withSent))
    // splice a structurally-plausible locator before the EOCD → parses
    val locator = Array[Byte](0x50, 0x4b, 0x06, 0x07) ++ new Array[Byte](16)
    val withLoc = withSent.take(i0) ++ locator ++ withSent.drop(i0)
    assert(XlsxReader.sheetNames(withLoc) == Seq("alpha", "beta"))
    assert(XlsxReader.readSheet(withLoc, "beta").map(_.cells) ==
      Seq(Seq("plain shared", "7")))
  }

  test("zip member selection picks the first .xls member (CFTC shape)") {
    val inner = XlsxWriter.write(Seq(XlsxSheet("XLS",
      Seq(Seq(XlsxCell.Str("a"), XlsxCell.Num(1))))))
    val outerZip = {
      val bout = new ByteArrayOutputStream()
      val zout = new ZipOutputStream(bout)
      zout.putNextEntry(new ZipEntry("readme.txt"))
      zout.write("hello".getBytes(StandardCharsets.UTF_8))
      zout.closeEntry()
      zout.putNextEntry(new ZipEntry("report.xlsx"))
      zout.write(inner)
      zout.closeEntry()
      zout.close()
      bout.toByteArray
    }
    val member = XlsxReader.selectZipMember(outerZip, ".xls")
    val rows = XlsxReader.readSheet(member, "XLS")
    assert(rows.map(_.cells) == Seq(Seq("a", "1")))
    assertThrows[IllegalArgumentException](
      XlsxReader.selectZipMember(outerZip, ".parquet"))
  }

  test("distributed scan: one task per workbook file via binaryFile source") {
    val spark = SparkTestBase.session
    val dir = Files.createTempDirectory("xlsx_scan")
    try {
      val b1 = XlsxWriter.write(Seq(XlsxSheet("s",
        Seq(Seq(XlsxCell.Str("f1"), XlsxCell.Num(1))))))
      val b2 = XlsxWriter.write(Seq(XlsxSheet("s",
        Seq(Seq(XlsxCell.Str("f2"), XlsxCell.Num(2)),
          Seq(XlsxCell.Str("f2b"), XlsxCell.Num(3))))))
      Files.write(dir.resolve("a.xlsx"), b1)
      Files.write(dir.resolve("b.xlsx"), b2)
      val df = XlsxReader.scan(spark, dir.toString + "/*.xlsx", Some("s"))
      val rows = df.collect()
      assert(rows.length == 3)
      val byFirst = rows.map(r =>
        (r.getSeq[String](3).head, r.getSeq[String](3)(1))).toSet
      assert(byFirst == Set(("f1", "1"), ("f2", "2"), ("f2b", "3")))
      // per-file parallelism: two files → at least two input partitions
      assert(df.rdd.getNumPartitions >= 1)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); Files.delete(dir)
    }
  }
}
