package graft.sources

import java.io.ByteArrayInputStream
import java.time.LocalDate
import java.util.zip.ZipInputStream

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable

/** One decoded sheet row: 0-based row index + left-ragged cell strings
  * (trailing cells beyond the last one present in the file are absent;
  * gaps between present cells are `""`). */
case class XlsxSheetRow(sheet: String, rowIdx: Long, cells: Seq[String])

/** Dependency-free XLSX (ECMA-376 zip+XML) reader: workbook bytes →
  * `(sheet, rowIdx, cells)` rows — the decode step in front of
  * [[graft.pipelines.WasdeTransforms.parseSupplyUse]] and the CFTC path.
  *
  * Mirrors the reference's binary ingestion, Spark-first:
  *  - `read_xls_with_sheetname` (HTGPIWASDE/__init__.py:203-245): sheet
  *    selection by name, merged-cell awareness, XL date-serial cells
  *    rendered as dates/times, ragged rows;
  *  - ZIP member selection (HTGPICFT/__init__.py:92-100): first archive
  *    member whose name contains ".xls" ([[selectZipMember]]).
  *
  * Differences from the xlrd path, chosen for a string-typed row contract
  * and documented here: numeric cells render integral values without the
  * float ".0" (xlrd yields all numbers as floats); date-styled serials
  * render ISO (`yyyy-MM-dd`, with ` HH:mm:ss` only when a time part is
  * present; time-only serials as `HH:mm:ss` — the reference's
  * datetime/time split at `:221-226`); merged-cell fill is opt-in
  * (`fillMerged=true`) — xlrd reads covered cells as empty, which is the
  * default here and what the WASDE carry-forward expects.
  *
  * Scale shape: `readSheet` is a pure bytes → rows function, so one
  * workbook decodes inside one executor task (q73's flatMap) — many
  * workbooks decode in parallel with no driver involvement; a single
  * workbook is bounded by the format itself, not the cluster.
  */
object XlsxReader {

  // ---- zip + xml plumbing -------------------------------------------------

  /** ZipInputStream scans LOCAL entry headers sequentially and never
    * consults the central directory, so a TRUNCATED archive whose cut
    * lands between entries (or anywhere past the requested member) would
    * parse silently — a corrupt container must be loud, so require the
    * mandatory end-of-central-directory record (PK\x05\x06; within the
    * last 64 KiB + 22 bytes, per the zip comment-length bound) up front. */
  private def requireCompleteZip(bytes: Array[Byte]): Int = {
    // A raw 4-byte signature grep is not enough: a truncated archive whose
    // surviving compressed tail happens to contain PK\x05\x06 would still
    // parse silently (r14 ADVICE). Scan candidates from the END (the real
    // EOCD is the last structurally-consistent one — a zip comment may
    // embed the signature bytes) and require the record's own geometry to
    // fit the actual byte array: central directory [offset, offset+size)
    // strictly before the record, comment length reaching at most EOF.
    def u16(i: Int) = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
    def u32(i: Int) = (bytes(i) & 0xffL) | ((bytes(i + 1) & 0xffL) << 8) |
      ((bytes(i + 2) & 0xffL) << 16) | ((bytes(i + 3) & 0xffL) << 24)
    val lo = math.max(0, bytes.length - (64 * 1024 + 22))
    val entries = ((bytes.length - 22) to lo by -1).iterator.collect {
      case i if bytes(i) == 0x50 && bytes(i + 1) == 0x4b &&
          bytes(i + 2) == 0x05 && bytes(i + 3) == 0x06 =>
        (u16(i + 10), u32(i + 12), u32(i + 16), u16(i + 20), i)
    }.collectFirst {
      // zip64 archives put 0xFFFFFFFF in cdOffset/cdSize (the real values
      // live in the zip64 EOCD record) — the geometry test is meaningless
      // for them, so accept on the comment-length bound INSTEAD… but only
      // when the mandatory zip64 EOCD LOCATOR (PK\x06\x07, fixed 20 bytes
      // immediately before the EOCD record, APPNOTE 4.3.15) is actually
      // present (r16 ADVICE): a truncated archive whose surviving tail
      // happens to carry 0xFFFFFFFF bytes must stay loud, and every
      // genuine zip64 archive ships the locator by spec.
      case (n, cdSize, cdOffset, commentLen, i)
          if (((cdOffset == 0xFFFFFFFFL || cdSize == 0xFFFFFFFFL) &&
            i >= 20 && bytes(i - 20) == 0x50 && bytes(i - 19) == 0x4b &&
            bytes(i - 18) == 0x06 && bytes(i - 17) == 0x07) ||
            (cdOffset != 0xFFFFFFFFL && cdSize != 0xFFFFFFFFL &&
              cdOffset + cdSize <= i)) &&
            i + 22 + commentLen <= bytes.length =>
        n
    }
    require(entries.isDefined,
      "not a complete zip archive: no structurally-consistent " +
        "end-of-central-directory record (truncated or corrupt workbook)")
    entries.get
  }

  private def zipEntries(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val expected = requireCompleteZip(bytes)
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Array[Byte]]
    var n = 0
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out += (e.getName.stripPrefix("/") -> zin.readAllBytes())
      n += 1
      zin.closeEntry()
      e = zin.getNextEntry
    }
    zin.close()
    // EOCD entry count vs local headers actually read: a cut INSIDE the
    // entry stream (before the surviving central directory tail) shows up
    // here. 0xFFFF is the zip64 "see the 64-bit record" sentinel — not a
    // real count, so it is not checked (xlsx workbooks never reach it).
    require(expected == 0xFFFF || n == expected,
      s"zip central directory claims $expected entries but $n local " +
        "headers were read (truncated or corrupt workbook)")
    out.result()
  }

  /** First member whose name contains `nameSubstring` (the reference's
    * `[s for s in zf.namelist() if ".xls" in s][0]`). */
  def selectZipMember(zipBytes: Array[Byte], nameSubstring: String = ".xls"): Array[Byte] = {
    requireCompleteZip(zipBytes)
    val zin = new ZipInputStream(new ByteArrayInputStream(zipBytes))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory && e.getName.contains(nameSubstring))
          return zin.readAllBytes()
        zin.closeEntry()
        e = zin.getNextEntry
      }
      throw new IllegalArgumentException(
        s"no zip member containing '$nameSubstring'")
    } finally zin.close()
  }

  private def reader(bytes: Array[Byte]): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  /** `.rels` part → (relationship id → target, relationship type → target). */
  private def parseRels(bytes: Array[Byte]): (Map[String, String], Map[String, String]) = {
    val byId = Map.newBuilder[String, String]
    val byType = Map.newBuilder[String, String]
    val r = reader(bytes)
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "Relationship") {
        val id = r.getAttributeValue(null, "Id")
        val tpe = r.getAttributeValue(null, "Type")
        val target = r.getAttributeValue(null, "Target")
        if (id != null && target != null) byId += (id -> target)
        if (tpe != null && target != null) byType += (tpe -> target)
      }
    }
    r.close()
    (byId.result(), byType.result())
  }

  /** Resolve a rels target against the part's base directory. */
  private def resolve(baseDir: String, target: String): String =
    if (target.startsWith("/")) target.stripPrefix("/")
    else if (baseDir.isEmpty) target
    else s"$baseDir/$target"

  // ---- workbook structure -------------------------------------------------

  private case class Workbook(
      sheets: Seq[(String, String)], // (name, part path) in workbook order
      shared: IndexedSeq[String],
      dateStyle: IndexedSeq[Boolean]) // cellXfs index → is-date-format

  private def parseWorkbook(parts: Map[String, Array[Byte]]): Workbook = {
    val (_, rootByType) = parseRels(parts.getOrElse("_rels/.rels",
      throw new IllegalArgumentException("not an OPC package: no _rels/.rels")))
    val wbPath = rootByType.collectFirst {
      case (t, target) if t.endsWith("/officeDocument") => target.stripPrefix("/")
    }.getOrElse("xl/workbook.xml")
    val baseDir = wbPath.lastIndexOf('/') match {
      case -1 => ""
      case i  => wbPath.substring(0, i)
    }
    // baseDir may be empty (workbook part at package root — legal OPC
    // layout); avoid a leading "/" that would never match zip entry names
    val relsDir = if (baseDir.isEmpty) "_rels" else s"$baseDir/_rels"
    val relsPath = s"$relsDir/${wbPath.substring(baseDir.length).stripPrefix("/")}.rels"
    val (relById, relByType) = parseRels(parts.getOrElse(relsPath,
      throw new IllegalArgumentException(s"missing $relsPath")))

    // sheet name → rId, in workbook order
    val sheets = mutable.ArrayBuffer.empty[(String, String)]
    val r = reader(parts(wbPath))
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
        val name = r.getAttributeValue(null, "name")
        // r:id is namespaced; match by local name over all attributes
        var rid: String = null
        var i = 0
        while (i < r.getAttributeCount) {
          if (r.getAttributeLocalName(i) == "id") rid = r.getAttributeValue(i)
          i += 1
        }
        if (name != null && rid != null)
          sheets += (name -> resolve(baseDir, relById(rid)))
      }
    }
    r.close()

    val shared = relByType.collectFirst {
      case (t, target) if t.endsWith("/sharedStrings") =>
        parseSharedStrings(parts(resolve(baseDir, target)))
    }.getOrElse(IndexedSeq.empty)
    val dateStyle = relByType.collectFirst {
      case (t, target) if t.endsWith("/styles") =>
        parseStyles(parts(resolve(baseDir, target)))
    }.getOrElse(IndexedSeq.empty)
    Workbook(sheets.toSeq, shared, dateStyle)
  }

  /** `<si>` entries; rich-text runs concatenate their `<t>` descendants —
    * EXCEPT inside `<rPh>` phonetic (furigana) runs, whose `<t>` holds the
    * reading, not the text: appending it would corrupt every cell
    * referencing the entry (e.g. "東京" would decode as "東京トウキョウ",
    * r14 review). */
  private def parseSharedStrings(bytes: Array[Byte]): IndexedSeq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val r = reader(bytes)
    var sb: java.lang.StringBuilder = null
    var inT = false
    var inRPh = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "si"  => sb = new java.lang.StringBuilder()
          case "rPh" => inRPh = true
          case "t"   => inT = !inRPh
          case _     =>
        }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (inT && sb != null) sb.append(r.getText)
        case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
          case "t"   => inT = false
          case "rPh" => inRPh = false
          case "si"  => out += sb.toString; sb = null
          case _     =>
        }
        case _ =>
      }
    }
    r.close()
    out.toIndexedSeq
  }

  /** Built-in date/time number formats (ECMA-376 §18.8.30). Shared with
    * [[XlsReader]] (BIFF8 uses the same ids) so the two codecs cannot
    * drift (r14 review). */
  private[sources] val BuiltinDateFmts: Set[Int] =
    ((14 to 22) ++ (27 to 36) ++ (45 to 47) ++ (50 to 58)).toSet

  /** A custom format code is a date format iff it contains a y/m/d/h/s
    * token outside `[...]` sections, `"..."` literals, and `\`-escapes. */
  private[graft] def isDateFormatCode(code: String): Boolean = {
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < code.length) {
      code.charAt(i) match {
        case '[' => while (i < code.length && code.charAt(i) != ']') i += 1
        case '"' =>
          i += 1
          while (i < code.length && code.charAt(i) != '"') i += 1
        case '\\' => i += 1
        case c    => sb.append(Character.toLowerCase(c))
      }
      i += 1
    }
    val s = sb.toString
    s.exists(c => c == 'y' || c == 'm' || c == 'd' || c == 'h' || c == 's')
  }

  /** cellXfs index → whether the style's numFmt is a date format. */
  private def parseStyles(bytes: Array[Byte]): IndexedSeq[Boolean] = {
    val customDate = mutable.Map.empty[Int, Boolean]
    val xfs = mutable.ArrayBuffer.empty[Boolean]
    var inCellXfs = false
    val r = reader(bytes)
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "numFmt" =>
            val id = Option(r.getAttributeValue(null, "numFmtId")).map(_.toInt)
            val code = Option(r.getAttributeValue(null, "formatCode"))
            for (i <- id; c <- code) customDate(i) = isDateFormatCode(c)
          case "cellXfs" => inCellXfs = true
          case "xf" if inCellXfs =>
            val fmt = Option(r.getAttributeValue(null, "numFmtId"))
              .map(_.toInt).getOrElse(0)
            xfs += (BuiltinDateFmts(fmt) || customDate.getOrElse(fmt, false))
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ =>
      }
    }
    r.close()
    xfs.toIndexedSeq
  }

  // ---- cell decoding ------------------------------------------------------

  /** `"BC12"` → 0-based column 54. */
  private[sources] def colIndex(cellRef: String): Int = {
    var i = 0
    var v = 0
    while (i < cellRef.length && Character.isLetter(cellRef.charAt(i))) {
      v = v * 26 + (Character.toUpperCase(cellRef.charAt(i)) - 'A' + 1)
      i += 1
    }
    v - 1
  }

  private[sources] def colLetters(idx0: Int): String = {
    var v = idx0 + 1
    val sb = new java.lang.StringBuilder()
    while (v > 0) {
      val rem = (v - 1) % 26
      sb.append(('A' + rem).toChar)
      v = (v - 1) / 26
    }
    sb.reverse.toString
  }

  /** XL 1900-system serial → ISO string. Correct for serials ≥ 61 (epoch
    * 1899-12-30); the 1900 leap-year phantom below that is inherited from
    * the format itself. Sub-second fractions round to the nearest second. */
  private[sources] def renderSerial(serial: Double): String = {
    val totalSecs = math.round(serial * 86400.0)
    val days = Math.floorDiv(totalSecs, 86400L)
    val secs = Math.floorMod(totalSecs, 86400L).toInt
    val hms = f"${secs / 3600}%02d:${(secs % 3600) / 60}%02d:${secs % 60}%02d"
    if (days == 0L && serial < 1.0) hms // time-only cell (ref :221-223)
    else {
      val date = XlDates.Epoch1900.plusDays(days)
      if (secs == 0) date.toString else s"$date $hms"
    }
  }

  /** Numeric cell → string: integral values drop the float ".0". The
    * double form is shared with [[XlsReader]], whose scaladoc promises
    * rendering identical to this reader (r14 review: one rule, one copy). */
  private[sources] def renderDouble(d: Double): String =
    if (d == Math.rint(d) && math.abs(d) < 1e15) Math.round(d).toString
    else d.toString

  private[sources] def renderNumber(raw: String): String =
    renderDouble(raw.toDouble)

  private def decodeCell(t: String, style: Int, v: String, inline: String,
      wb: Workbook): String = t match {
    case "s"         => wb.shared(v.trim.toInt)
    case "inlineStr" => inline
    case "str"       => v // cached formula result, already a string
    case "b"         => if (v.trim == "1") "true" else "false"
    case "e"         => v
    case _ => // "n" / absent: number, date-styled or plain
      if (v.isEmpty) ""
      else if (style >= 0 && style < wb.dateStyle.length && wb.dateStyle(style))
        renderSerial(v.trim.toDouble)
      else renderNumber(v.trim)
  }

  // ---- sheet reading ------------------------------------------------------

  /** Sheet names in workbook order. */
  def sheetNames(bytes: Array[Byte]): Seq[String] =
    parseWorkbook(zipEntries(bytes)).sheets.map(_._1)

  /** Decode one sheet by name. `fillMerged=true` propagates each merged
    * range's anchor value into all covered cells; the default leaves them
    * empty (xlrd parity — WASDE's carry-forward handles the blanks). */
  def readSheet(bytes: Array[Byte], sheetName: String,
      fillMerged: Boolean = false): Seq[XlsxSheetRow] = {
    val parts = zipEntries(bytes)
    val wb = parseWorkbook(parts)
    val path = wb.sheets.collectFirst { case (n, p) if n == sheetName => p }
      .getOrElse(throw new IllegalArgumentException(
        s"no sheet '$sheetName' (have: ${wb.sheets.map(_._1).mkString(", ")})"))
    readSheetPart(parts(path), sheetName, wb, fillMerged)
  }

  private def readSheetPart(bytes: Array[Byte], sheetName: String,
      wb: Workbook, fillMerged: Boolean): Seq[XlsxSheetRow] = {
    // (rowIdx0, colIdx0) → value for present cells; merges collected after
    val cells = mutable.Map.empty[(Long, Int), String]
    val merges = mutable.ArrayBuffer.empty[String]
    val r = reader(bytes)
    var curRow = -1L
    var seqRow = -1L // fallback when <row> lacks an r attribute
    var cellCol = -1 // resolved column of the open <c>
    var seqCol = -1  // fallback when <c> lacks an r attribute (ECMA-376
                     // makes it optional: position is "next column")
    var cellRef: String = null
    var cellT = ""
    var cellS = -1
    var inV = false
    var inIs = false
    var inT = false
    val vBuf = new java.lang.StringBuilder()
    val isBuf = new java.lang.StringBuilder()
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "row" =>
            seqRow += 1
            curRow = Option(r.getAttributeValue(null, "r"))
              .map(_.toLong - 1).getOrElse(seqRow)
            seqRow = curRow
            seqCol = -1
          case "c" =>
            // r is OPTIONAL on <c> (same sequential fallback as <row>,
            // r14 review: dropping ref-less cells was silent data loss)
            cellRef = r.getAttributeValue(null, "r")
            cellCol = if (cellRef != null) colIndex(cellRef) else seqCol + 1
            seqCol = cellCol
            cellT = Option(r.getAttributeValue(null, "t")).getOrElse("")
            cellS = Option(r.getAttributeValue(null, "s"))
              .map(_.toInt).getOrElse(-1)
            vBuf.setLength(0); isBuf.setLength(0)
          case "v"  => inV = true
          case "is" => inIs = true
          case "t" if inIs => inT = true
          case "mergeCell" =>
            Option(r.getAttributeValue(null, "ref")).foreach(merges += _)
          case _ =>
        }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (inV) vBuf.append(r.getText)
          else if (inT) isBuf.append(r.getText)
        case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
          case "v"  => inV = false
          case "is" => inIs = false
          case "t" if inIs => inT = false
          case "c" =>
            if (cellCol >= 0 && curRow >= 0) {
              val decoded = decodeCell(cellT, cellS, vBuf.toString,
                isBuf.toString, wb)
              cells((curRow, cellCol)) = decoded
            }
            cellRef = null; cellCol = -1
          case _ =>
        }
        case _ =>
      }
    }
    r.close()

    if (fillMerged) merges.foreach { ref =>
      ref.split(":") match {
        case Array(a, b) =>
          val (r0, c0) = (rowOf(a), colIndex(a))
          val (r1, c1) = (rowOf(b), colIndex(b))
          val anchor = cells.getOrElse((r0, c0), "")
          for (ri <- r0 to r1; ci <- c0 to c1) cells((ri, ci)) = anchor
        case _ =>
      }
    }

    cells.keys.groupBy(_._1).toSeq.sortBy(_._1).map { case (rowIdx, ks) =>
      val maxCol = ks.map(_._2).max
      XlsxSheetRow(sheetName, rowIdx,
        (0 to maxCol).map(ci => cells.getOrElse((rowIdx, ci), "")))
    }
  }

  private def rowOf(cellRef: String): Long =
    cellRef.dropWhile(Character.isLetter).toLong - 1
}
