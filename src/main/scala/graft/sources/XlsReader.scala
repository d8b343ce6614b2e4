package graft.sources

import scala.collection.mutable

/** Dependency-free legacy `.xls` (BIFF8 inside a CFB container) reader,
  * sharing [[XlsxReader]]'s row contract — `(sheet, rowIdx, cells)` with
  * left-ragged string cells — so every consumer (WASDE parse, CFTC path,
  * zip-member selection) works unchanged against either format.
  *
  * This closes the byte-format gap with the reference, which opens REAL
  * `.xls` workbooks via xlrd (`HTGPIWASDE/__init__.py:8,142-149`,
  * `HTGPICFT/__init__.py:100`); [[XlsxReader]] covers only the zip+XML
  * format. Decoded per the public BIFF8 record layout, not ported.
  *
  * Coverage: SST (including CONTINUE spills with per-fragment grbit
  * re-statement), LABELSST, LABEL, NUMBER, RK, MULRK, BOOLERR, FORMULA
  * cached results (numeric / string via trailing STRING / bool / err /
  * blank), BOUNDSHEET, MERGEDCELLS, FORMAT + XF date-style detection
  * (same `isDateFormatCode` as the xlsx path), DATEMODE (1904 offset).
  * Rendering matches XlsxReader exactly: integral numbers without ".0",
  * date serials as ISO, bools as "true"/"false".
  *
  * Scale shape: `readSheet` is a pure bytes → rows function, so one
  * workbook decodes inside one task, as q73 runs the xlsx decode. */
object XlsReader {

  // record ids
  private val BOF = 0x0809; private val EOF = 0x000A
  private val SST = 0x00FC; private val CONTINUE = 0x003C
  private val LABELSST = 0x00FD; private val LABEL = 0x0204
  private val NUMBER = 0x0203; private val RK = 0x027E
  private val MULRK = 0x00BD; private val BOOLERR = 0x0205
  private val FORMULA = 0x0006; private val STRING = 0x0207
  private val BOUNDSHEET = 0x0085; private val MERGEDCELLS = 0x00E5
  private val XF = 0x00E0; private val FORMAT = 0x041E
  private val DATEMODE = 0x0022

  private case class Workbook(sst: IndexedSeq[String],
      xfDate: IndexedSeq[Boolean], sheets: Seq[(String, Int)],
      is1904: Boolean)

  /** A cursor over the concatenated data of a record plus its CONTINUE
    * spills. Fixed-width fields may span fragment boundaries byte-by-byte
    * (the spec keeps them whole, but reading across is harmless); string
    * CHARACTER data re-states the 1-byte encoding flag at the start of
    * each continued fragment — the one genuinely tricky BIFF rule. */
  private final class Cursor(stream: Array[Byte], segs: IndexedSeq[(Int, Int)]) {
    private var seg = 0
    private var pos = 0 // within current segment
    private def segLen = segs(seg)._2
    def segRemaining: Int = if (seg >= segs.length) 0 else segLen - pos
    private def roll(): Unit =
      while (seg < segs.length && pos >= segLen) { seg += 1; pos = 0 }
    def u8(): Int = {
      roll()
      val b = stream(segs(seg)._1 + pos) & 0xFF
      pos += 1
      b
    }
    def u16(): Int = u8() | (u8() << 8)
    def i32(): Int = u16() | (u16() << 16)
    def skip(n: Int): Unit = (0 until n).foreach(_ => u8())
    /** Start a continued fragment of character data: consume its flag. */
    def charFragmentWide(): Boolean = { roll(); (u8() & 1) != 0 }
    def fragmentCharsLeft(wide: Boolean): Int =
      if (wide) segRemaining / 2 else segRemaining
    def readChars(n: Int, wide: Boolean, sb: java.lang.StringBuilder): Unit = {
      if (wide) {
        var i = 0
        while (i < n) { sb.append((u8() | (u8() << 8)).toChar); i += 1 }
      } else {
        var i = 0
        while (i < n) { sb.append((u8() & 0xFF).toChar); i += 1 }
      }
    }
    /** XLUnicodeRichExtendedString: 16-bit char count header. */
    def readString16(): String = {
      val cch = u16()
      val grbit = u8()
      val rich = if ((grbit & 0x08) != 0) u16() else 0
      val ext = if ((grbit & 0x04) != 0) i32() else 0
      var wide = (grbit & 0x01) != 0
      val sb = new java.lang.StringBuilder(cch)
      var remaining = cch
      while (remaining > 0) {
        if (segRemaining == 0) wide = charFragmentWide()
        val take = math.min(remaining, math.max(fragmentCharsLeft(wide), 0))
        require(take > 0, "malformed BIFF string: ran out of data")
        readChars(take, wide, sb)
        remaining -= take
      }
      skip(rich * 4 + ext)
      sb.toString
    }
  }

  private def u16(b: Array[Byte], o: Int) = Cfb.u16(b, o)
  private def i32(b: Array[Byte], o: Int) = Cfb.i32(b, o)

  /** 8-bit-length string (BOUNDSHEET names). */
  private def readString8(b: Array[Byte], o: Int): String = {
    val cch = b(o) & 0xFF
    val wide = (b(o + 1) & 1) != 0
    if (wide) new String(b, o + 2, cch * 2, "UTF-16LE")
    else new String(b.slice(o + 2, o + 2 + cch).map(c => (c & 0xFF).toChar))
  }

  private def rkValue(rk: Int): Double = {
    val base =
      if ((rk & 2) != 0) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    if ((rk & 1) != 0) base / 100.0 else base
  }

  private def errText(code: Int): String = code match {
    case 0x00 => "#NULL!"
    case 0x07 => "#DIV/0!"
    case 0x0F => "#VALUE!"
    case 0x17 => "#REF!"
    case 0x1D => "#NAME?"
    case 0x24 => "#NUM!"
    case _    => "#N/A"
  }

  private def renderNum(d: Double): String = XlsxReader.renderDouble(d)

  private def render(d: Double, xf: Int, wb: Workbook): String =
    if (xf >= 0 && xf < wb.xfDate.length && wb.xfDate(xf))
      XlsxReader.renderSerial(if (wb.is1904) d + 1462.0 else d)
    else renderNum(d)

  /** The workbook BIFF stream out of the CFB container. */
  private def workbookStream(bytes: Array[Byte]): Array[Byte] = {
    val streams = Cfb.readStreams(bytes)
    streams.getOrElse("Workbook", streams.getOrElse("Book",
      streams.collectFirst {
        case (n, v) if n.equalsIgnoreCase("workbook") || n.equalsIgnoreCase("book") => v
      }.getOrElse(throw new IllegalArgumentException(
        s"no Workbook stream (have: ${streams.keys.mkString(", ")})"))))
  }

  private def parseGlobals(s: Array[Byte]): Workbook = {
    require(s.length >= 4 && u16(s, 0) == BOF, "not a BIFF stream (no BOF)")
    require(u16(s, 4) >= 0x0600,
      f"unsupported BIFF version 0x${u16(s, 4)}%04x (need BIFF8; BIFF5 " +
        "workbooks predate 1997 — resave or convert upstream)")
    var sst = IndexedSeq.empty[String]
    val xfFmts = mutable.ArrayBuffer.empty[Int]
    val customDate = mutable.Map.empty[Int, Boolean]
    val sheets = mutable.ArrayBuffer.empty[(String, Int)]
    var is1904 = false
    var off = 0
    var done = false
    while (!done && off + 4 <= s.length) {
      val id = u16(s, off)
      val len = u16(s, off + 2)
      val data = off + 4
      id match {
        case EOF => done = true
        case SST =>
          // gather the record plus its CONTINUE spills into one cursor
          val segs = mutable.ArrayBuffer((data, len))
          var o2 = data + len
          while (o2 + 4 <= s.length && u16(s, o2) == CONTINUE) {
            val l2 = u16(s, o2 + 2)
            segs += ((o2 + 4, l2))
            o2 = o2 + 4 + l2
          }
          val cur = new Cursor(s, segs.toIndexedSeq)
          cur.i32() // total refs
          val unique = cur.i32()
          sst = (0 until unique).map(_ => cur.readString16())
        case XF => xfFmts += u16(s, data + 2)
        case FORMAT =>
          val ifmt = u16(s, data)
          val code = new Cursor(s, IndexedSeq((data + 2, len - 2))).readString16()
          customDate(ifmt) = XlsxReader.isDateFormatCode(code)
        case BOUNDSHEET =>
          sheets += ((readString8(s, data + 6), i32(s, data)))
        case DATEMODE => is1904 = u16(s, data) == 1
        case _ =>
      }
      if (!done) {
        // SST handling above repositions off; everyone else advances here
        if (id == SST) {
          off = {
            var o2 = data + len
            while (o2 + 4 <= s.length && u16(s, o2) == CONTINUE)
              o2 = o2 + 4 + u16(s, o2 + 2)
            o2
          }
        } else off = data + len
      }
    }
    Workbook(sst,
      xfFmts.map(f => XlsxReader.BuiltinDateFmts(f) ||
        customDate.getOrElse(f, false)).toIndexedSeq,
      sheets.toSeq, is1904)
  }

  private def readSheetAt(s: Array[Byte], start: Int, sheetName: String,
      wb: Workbook, fillMerged: Boolean): Seq[XlsxSheetRow] = {
    require(start + 4 <= s.length && u16(s, start) == BOF,
      s"sheet '$sheetName': BOUNDSHEET offset $start is not a BOF")
    val cells = mutable.Map.empty[(Long, Int), String]
    val merges = mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
    var off = start + 4 + u16(s, start + 2)
    var pendingStringCell: Option[(Long, Int)] = None
    var done = false
    while (!done && off + 4 <= s.length) {
      val id = u16(s, off)
      val len = u16(s, off + 2)
      val d = off + 4
      id match {
        case EOF => done = true
        case NUMBER =>
          val bits = (i32(s, d + 6).toLong & 0xFFFFFFFFL) |
            (i32(s, d + 10).toLong << 32)
          cells((u16(s, d).toLong, u16(s, d + 2))) =
            render(java.lang.Double.longBitsToDouble(bits), u16(s, d + 4), wb)
        case RK =>
          cells((u16(s, d).toLong, u16(s, d + 2))) =
            render(rkValue(i32(s, d + 6)), u16(s, d + 4), wb)
        case MULRK =>
          val row = u16(s, d).toLong
          val colFirst = u16(s, d + 2)
          val n = (len - 6) / 6
          (0 until n).foreach { k =>
            val xf = u16(s, d + 4 + 6 * k)
            val rk = i32(s, d + 6 + 6 * k)
            cells((row, colFirst + k)) = render(rkValue(rk), xf, wb)
          }
        case LABELSST =>
          cells((u16(s, d).toLong, u16(s, d + 2))) = wb.sst(i32(s, d + 6))
        case LABEL =>
          cells((u16(s, d).toLong, u16(s, d + 2))) =
            new Cursor(s, IndexedSeq((d + 6, len - 6))).readString16()
        case BOOLERR =>
          val v = s(d + 6) & 0xFF
          cells((u16(s, d).toLong, u16(s, d + 2))) =
            if ((s(d + 7) & 0xFF) == 0) (if (v == 1) "true" else "false")
            else errText(v)
        case FORMULA =>
          val key = (u16(s, d).toLong, u16(s, d + 2))
          val xf = u16(s, d + 4)
          if (u16(s, d + 12) == 0xFFFF) (s(d + 6) & 0xFF) match {
            case 0 => pendingStringCell = Some(key) // value in next STRING
            case 1 => cells(key) = if ((s(d + 8) & 0xFF) == 1) "true" else "false"
            case 2 => cells(key) = errText(s(d + 8) & 0xFF)
            case _ => cells(key) = "" // cached blank
          } else {
            val bits = (i32(s, d + 6).toLong & 0xFFFFFFFFL) |
              (i32(s, d + 10).toLong << 32)
            cells(key) = render(java.lang.Double.longBitsToDouble(bits), xf, wb)
          }
        case STRING =>
          pendingStringCell.foreach { key =>
            cells(key) = new Cursor(s, IndexedSeq((d, len))).readString16()
          }
          pendingStringCell = None
        case MERGEDCELLS =>
          val cnt = u16(s, d)
          (0 until cnt).foreach { k =>
            val o = d + 2 + 8 * k
            merges += ((u16(s, o), u16(s, o + 2), u16(s, o + 4), u16(s, o + 6)))
          }
        case _ =>
      }
      if (!done) off = d + len
    }

    if (fillMerged) merges.foreach { case (r0, r1, c0, c1) =>
      val anchor = cells.getOrElse((r0.toLong, c0), "")
      for (ri <- r0 to r1; ci <- c0 to c1) cells((ri.toLong, ci)) = anchor
    }

    cells.keys.groupBy(_._1).toSeq.sortBy(_._1).map { case (rowIdx, ks) =>
      val maxCol = ks.map(_._2).max
      XlsxSheetRow(sheetName, rowIdx,
        (0 to maxCol).map(ci => cells.getOrElse((rowIdx, ci), "")))
    }
  }

  // ---- public API (XlsxReader parity) -------------------------------------

  /** Sheet names in workbook order. */
  def sheetNames(bytes: Array[Byte]): Seq[String] =
    parseGlobals(workbookStream(bytes)).sheets.map(_._1)

  /** Decode one sheet by name; `fillMerged` as in [[XlsxReader.readSheet]]. */
  def readSheet(bytes: Array[Byte], sheetName: String,
      fillMerged: Boolean = false): Seq[XlsxSheetRow] = {
    val s = workbookStream(bytes)
    val wb = parseGlobals(s)
    val start = wb.sheets.collectFirst { case (n, p) if n == sheetName => p }
      .getOrElse(throw new IllegalArgumentException(
        s"no sheet '$sheetName' (have: ${wb.sheets.map(_._1).mkString(", ")})"))
    readSheetAt(s, start, sheetName, wb, fillMerged)
  }
}
