package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Static PDF header/trailer parser — the q251/q252 sibling for the
  * highest-volume crawl DOCUMENT family with no reader (r18 VERDICT depth
  * item 6). PUBLIC format only (ISO 32000-1 / the Adobe PDF Reference),
  * parsed dependency-free from the raw bytes with the same discipline as
  * [[ImageHeaderOps]] / [[MediaHeaderOps]]: every read bounds-checked,
  * every malformation (truncated header, unbalanced trailer dictionary,
  * a /Count that is an indirect reference, a startxref pointing past
  * EOF) yields null fields or a null row, never a throw — one corrupt
  * blob in a 100 TB scan costs one null row, not a task retry storm.
  *
  * What a training-data pipeline routes/filters PDFs by:
  *   - `version`   — "1.4" … "2.0" from the `%PDF-M.N` header (spec
  *     §7.5.2; tolerated anywhere in the first 1024 bytes, the Acrobat
  *     implementation note, since crawl payloads often carry HTTP junk
  *     prefixes);
  *   - `pages`     — /Root → catalog → /Pages → page-tree root /Count,
  *     each hop re-resolved; object lookups take the LAST `n g obj`
  *     occurrence so an incrementally-updated file reports its newest
  *     catalog (updates append, §7.5.6);
  *   - `encrypted` — /Encrypt present in the active trailer dictionary
  *     (classic `trailer` keyword, else the cross-reference STREAM's
  *     dictionary located via `startxref`, §7.5.8 — 1.5+ files commonly
  *     have no `trailer` keyword at all);
  *   - `linearized` — a /Linearized parameter dictionary inside the
  *     first 1024 bytes (Annex F requires it entirely within the first
  *     1024 bytes, so the bounded scan is exact, not heuristic).
  *
  * Object streams ARE decoded (r20, the r19 depth item): every
  * `/Type /ObjStm` object is FlateDecoded in ONE sweep per file
  * (bounded at [[MaxScan]] inflated bytes per stream and 8× that per
  * file — a decompression bomb or a many-ObjStm adversarial file costs
  * one null, never memory; JDK Inflater, still dependency-free), its
  * `/N`×(objnum, offset) header indexed, and every hop of the
  * page-count chain resolves against the NEWEST definition across BOTH
  * layers — plain `n g obj` and object-stream copies compete on byte
  * position, because incremental updates append whether the updater
  * writes a plain object or packs it into a new /ObjStm. So a 1.5+
  * file whose catalog lives in a compressed object stream (the
  * dominant modern layout) reports its page count. Full content-stream
  * decode and predictor-filtered xref-stream index parsing stay out of
  * scope: routing needs the header surface, and scanning the ObjStm
  * objects directly sidesteps the /Predictor 12 PNG filter xref
  * streams usually carry.
  */
object PdfHeaderOps {

  private val MaxScan = 1 << 20 // per-structure scan bound, bytes

  /** First index of `pat` in b[from, until), or -1. */
  private def indexOf(b: Array[Byte], pat: Array[Byte], from: Int,
      until: Int): Int = {
    val end = math.min(until, b.length) - pat.length
    var i = math.max(from, 0)
    while (i <= end) {
      var j = 0
      while (j < pat.length && b(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i += 1
    }
    -1
  }

  private def lastIndexOf(b: Array[Byte], pat: Array[Byte]): Int = {
    var i = b.length - pat.length
    while (i >= 0) {
      var j = 0
      while (j < pat.length && b(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i -= 1
    }
    -1
  }

  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0 || c == 12

  private def isDelim(c: Byte): Boolean =
    c == '/' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '(' || c == ')' || c == '%'

  private def skipWs(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length && isWs(b(i))) i += 1
    i
  }

  /** Parse a non-negative integer at `from` (after ws skip); -1 if the
    * next token is not a plain integer. */
  private def parseInt(b: Array[Byte], from: Int): (Long, Int) = {
    var i = skipWs(b, from)
    var v = 0L
    val start = i
    while (i < b.length && b(i) >= '0' && b(i) <= '9' && v < Int.MaxValue) {
      v = v * 10 + (b(i) - '0'); i += 1
    }
    if (i == start) (-1L, from) else (v, i)
  }

  /** Span [start, end) of the balanced `<< … >>` dictionary whose `<<`
    * is the first one at/after `from`. Literal strings `( … )` (with
    * backslash escapes), hex strings `< … >` and `%` comments are
    * skipped so their brackets never unbalance the scan. -1 end on any
    * truncation.
    *
    * `searchLimit` bounds how far past `from` the OPENING `<<` may sit
    * (the balanced scan past it stays bounded at [[MaxScan]]). Callers
    * that will reject far-away dicts anyway (the ObjStm pre-filter's
    * 1024-byte window) pass the window so a crafted file of repeated
    * bare ` obj` tokens costs O(tokens × window), not O(tokens ×
    * MaxScan) — r20 ADVICE, the one unbounded sweep in an expression
    * whose contract otherwise bounds attacker cost. */
  private def dictSpan(b: Array[Byte], from: Int,
      searchLimit: Int = MaxScan): (Int, Int) = {
    val open = indexOf(b, Array('<', '<'), from, from + searchLimit)
    if (open < 0) return (-1, -1)
    var i = open
    var depth = 0
    val limit = math.min(b.length, open + MaxScan)
    while (i < limit) {
      val c = b(i)
      if (c == '<' && i + 1 < limit && b(i + 1) == '<') { depth += 1; i += 2 }
      else if (c == '>' && i + 1 < limit && b(i + 1) == '>') {
        depth -= 1; i += 2
        if (depth == 0) return (open, i)
      } else if (c == '(') { // literal string
        i += 1
        while (i < limit && b(i) != ')')
          i += (if (b(i) == '\\' && i + 1 < limit) 2 else 1)
        i += 1
      } else if (c == '<') { // hex string
        i += 1
        while (i < limit && b(i) != '>') i += 1
        i += 1
      } else if (c == '%') { // comment to EOL
        while (i < limit && b(i) != '\n' && b(i) != '\r') i += 1
      } else i += 1
    }
    (open, -1)
  }

  /** Position AFTER a `/Name` key inside [from, until), with a proper
    * token boundary (so /Pages never matches inside /PageLabels); -1 if
    * absent. */
  private def findKey(b: Array[Byte], name: String, from: Int,
      until: Int): Int = {
    val pat = ("/" + name).getBytes("US-ASCII")
    var i = from
    while (i >= 0) {
      i = indexOf(b, pat, i, until)
      if (i < 0) return -1
      val after = i + pat.length
      if (after >= b.length || isWs(b(after)) || isDelim(b(after)))
        return after
      i += 1
    }
    -1
  }

  /** `/Name n g R` → object number n, or -1 when the value is not an
    * indirect reference. */
  private def refValue(b: Array[Byte], name: String, from: Int,
      until: Int): Long = {
    val after = findKey(b, name, from, until)
    if (after < 0) return -1L
    val (n, i1) = parseInt(b, after)
    if (n < 0) return -1L
    val (g, i2) = parseInt(b, i1)
    if (g < 0) return -1L
    val i3 = skipWs(b, i2)
    if (i3 < b.length && b(i3) == 'R') n else -1L
  }

  /** Dictionary span of the NEWEST `n g obj` body (last occurrence —
    * incremental updates append, so the last definition is the live
    * one) plus the BYTE POSITION of that definition, so newest-wins can
    * be decided ACROSS layers against object-stream copies (r20 review:
    * a plain definition must not unconditionally shadow a LATER
    * object-stream redefinition). (pos, -1, -1) when missing. */
  private def objDictWithPos(b: Array[Byte], objNum: Long): (Int, Int, Int) = {
    val (pos, span) = objDictImpl(b, objNum)
    (pos, span._1, span._2)
  }

  private def objDict(b: Array[Byte], objNum: Long): (Int, Int) =
    objDictImpl(b, objNum)._2

  private def objDictImpl(b: Array[Byte], objNum: Long): (Int, (Int, Int)) = {
    // match "<n> <digits> obj" with a left token boundary so object 12
    // never resolves to "112 0 obj"
    val numPat = objNum.toString.getBytes("US-ASCII")
    var best = -1
    var i = 0
    while (i >= 0 && i < b.length) {
      i = indexOf(b, numPat, i, b.length)
      if (i >= 0) {
        val leftOk = i == 0 || isWs(b(i - 1)) || isDelim(b(i - 1))
        if (leftOk) {
          val (g, i1) = parseInt(b, i + numPat.length)
          val i2 = skipWs(b, i1)
          if (g >= 0 && i2 + 3 <= b.length && b(i2) == 'o' &&
            b(i2 + 1) == 'b' && b(i2 + 2) == 'j' &&
            isWs(b(i + numPat.length))) best = i2 + 3
        }
        i += 1
      }
    }
    if (best < 0) (-1, (-1, -1)) else (best, dictSpan(b, best))
  }

  /** The active trailer dictionary span: the LAST `trailer` keyword's
    * dict (classic files), else the xref STREAM object's dict found via
    * the last `startxref` offset (1.5+ files with no trailer keyword).
    * (-1,-1) when neither resolves. */
  private def trailerDict(b: Array[Byte]): (Int, Int) = {
    val t = lastIndexOf(b, "trailer".getBytes("US-ASCII"))
    if (t >= 0) {
      val span = dictSpan(b, t + 7)
      if (span._2 > 0) return span
    }
    val sx = lastIndexOf(b, "startxref".getBytes("US-ASCII"))
    if (sx < 0) return (-1, -1)
    val (off, _) = parseInt(b, sx + 9)
    if (off < 0 || off >= b.length) return (-1, -1)
    // at `off` expect `n g obj << /Type /XRef ... >>`
    val (n, i1) = parseInt(b, off.toInt)
    val (g, i2) = parseInt(b, i1)
    val i3 = skipWs(b, i2)
    if (n < 0 || g < 0 || i3 + 3 > b.length || b(i3) != 'o' ||
      b(i3 + 1) != 'b' || b(i3 + 2) != 'j') return (-1, -1)
    val span = dictSpan(b, i3 + 3)
    if (span._2 > 0 &&
      findKey(b, "Type", span._1, span._2) >= 0 &&
      findKey(b, "XRef", span._1, span._2) >= 0) span
    else (-1, -1)
  }

  /** Bounded FlateDecode: inflate b[from, until) to at most `maxOut`
    * bytes; null on any zlib error, truncation, or when the stream
    * would inflate past the bound (a decompression bomb costs one null
    * page count, never memory). */
  private def inflate(b: Array[Byte], from: Int, until: Int,
      maxOut: Int): Array[Byte] = {
    if (from < 0 || until > b.length || from >= until) return null
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(b, from, until - from)
      val out = new Array[Byte](maxOut)
      var n = 0
      while (n < maxOut && !inf.finished() && !inf.needsInput() &&
        !inf.needsDictionary()) {
        val got = inf.inflate(out, n, maxOut - n)
        if (got == 0 && !inf.finished()) return null
        n += got
      }
      // A stream that inflates to EXACTLY maxOut bytes can exit the loop
      // with finished()==false when the final inflate filled the buffer
      // before consuming the end-of-stream marker (r20 ADVICE): give the
      // inflater one zero-yield probe into a scratch byte — if it
      // produces nothing and flips finished(), the stream was in-bound;
      // only reject when another byte actually arrives.
      if (n == maxOut && !inf.finished() && !inf.needsInput() &&
        !inf.needsDictionary()) {
        val probe = new Array[Byte](1)
        if (inf.inflate(probe, 0, 1) > 0) return null // genuinely over
      }
      if (!inf.finished()) return null // truncated or over the bound
      java.util.Arrays.copyOf(out, n)
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }

  /** The raw (still-compressed) byte span of an object's stream data:
    * after the dict, the `stream` keyword, one EOL, then /Length bytes
    * when /Length is a plain integer, else up to the next `endstream`.
    * (-1,-1) when absent/truncated. */
  private def streamData(b: Array[Byte], dict: (Int, Int)): (Int, Int) = {
    val kw = indexOf(b, "stream".getBytes("US-ASCII"), dict._2,
      dict._2 + 64)
    if (kw < 0) return (-1, -1)
    var s = kw + 6
    if (s < b.length && b(s) == '\r') s += 1
    if (s < b.length && b(s) == '\n') s += 1
    val lenAfter = findKey(b, "Length", dict._1, dict._2)
    if (lenAfter >= 0) {
      val (len, i1) = parseInt(b, lenAfter)
      // plain integer only — `/Length 8 0 R` falls through to the
      // endstream scan (resolving a length object is not worth a hop)
      val (g, i2) = parseInt(b, i1)
      val i3 = skipWs(b, i2)
      val isRef = g >= 0 && i3 < b.length && b(i3) == 'R'
      if (len >= 0 && !isRef && s + len <= b.length)
        return (s, s + len.toInt)
    }
    val end = indexOf(b, "endstream".getBytes("US-ASCII"), s,
      s + MaxScan)
    if (end < 0) (-1, -1) else (s, end)
  }

  /** One decoded PDF 1.5+ object stream (§7.5.7): its host object's
    * byte position in the file (for cross-layer newest-wins), the
    * inflated bytes, /First, and the header's (objnum, offset) pairs. */
  private final case class ObjStm(hostPos: Int, dec: Array[Byte],
      first: Int, pairs: Array[(Long, Long)])

  /** ALL decoded object streams, ONE sweep + ONE inflate each (r20
    * review: the per-hop form re-inflated every stream once per
    * resolution hop — 2× MB-scale work per row on exactly the
    * compressed-catalog corpus this feature targets). Total inflated
    * output is budgeted at 8 × [[MaxScan]] per file; streams past the
    * budget are not decoded (a many-ObjStm adversarial file costs a
    * null page count, never memory). The dict pre-filter window is
    * 1024 bytes of whitespace/comments between `obj` and `<<` (r20
    * review: the first cut's 64 rejected conforming files; the
    * plain-object path has no such bound, and false `obj` matches in
    * binary data are already rejected by the /ObjStm key check). */
  private def decodedObjStreams(b: Array[Byte]): Array[ObjStm] = {
    val pat = "obj".getBytes("US-ASCII")
    val out = scala.collection.mutable.ArrayBuffer.empty[ObjStm]
    var budget = 8L * MaxScan
    var i = 0
    while (i >= 0 && i < b.length) {
      i = indexOf(b, pat, i, b.length)
      if (i >= 0) {
        val span =
          if (i == 0 || isWs(b(i - 1)))
            // search window = the pre-filter's own 1024-byte acceptance
            // bound (+2 so a `<<` STARTING at the boundary is still seen)
            dictSpan(b, i + 3, searchLimit = 1024 + 2)
          else (-1, -1)
        // pre-filter before any inflate: a dict near this obj with
        // /Type /ObjStm, /N and /First all present (the ws left-boundary
        // above keeps `endobj` from matching)
        if (span._2 > 0 && span._1 < i + 3 + 1024 &&
          findKey(b, "Type", span._1, span._2) >= 0 &&
          findKey(b, "ObjStm", span._1, span._2) >= 0) {
          val nAfter = findKey(b, "N", span._1, span._2)
          val fAfter = findKey(b, "First", span._1, span._2)
          if (nAfter >= 0 && fAfter >= 0) {
            val (nPairs, _) = parseInt(b, nAfter)
            val (first, _) = parseInt(b, fAfter)
            val raw = streamData(b, span)
            if (nPairs > 0 && nPairs <= 10000 && first >= 0 &&
              raw._2 > 0 && budget > 0) {
              val dec = inflate(b, raw._1, raw._2,
                math.min(MaxScan.toLong, budget).toInt)
              if (dec != null && first <= dec.length) {
                budget -= dec.length
                // header: nPairs × (objnum offset); offsets relative
                // to /First
                val pairs =
                  scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
                var k = 0L; var p = 0
                while (k < nPairs && p >= 0) {
                  val (num, p1) = parseInt(dec, p)
                  val (off, p2) = parseInt(dec, p1)
                  if (num < 0 || off < 0) p = -1
                  else { pairs += ((num, off)); k += 1; p = p2 }
                }
                out += ObjStm(i, dec, first.toInt, pairs.toArray)
              }
            }
          }
        }
        i += 1
      }
    }
    out.toArray
  }

  /** Object dict as (buffer, start, end), NEWEST definition across BOTH
    * layers (r20 review): the plain `n g obj` candidate and the latest
    * object-stream copy compete on their byte position in the file —
    * incremental updates append, so "later in the file" IS "newer",
    * whether the updater wrote a plain object or packed it into a new
    * /ObjStm. Null when neither resolves. */
  private def resolveDict(b: Array[Byte], streams: Array[ObjStm],
      objNum: Long): (Array[Byte], Int, Int) = {
    val (plainPos, ps, pe) = objDictWithPos(b, objNum)
    var hit: (Int, Array[Byte], Int, Int) = null
    streams.foreach { st =>
      if (st.pairs.exists(_._1 == objNum) &&
        (hit == null || st.hostPos > hit._1)) {
        val off = st.first + st.pairs.find(_._1 == objNum).get._2
        if (off >= 0 && off < st.dec.length) {
          val ds = dictSpan(st.dec, off.toInt)
          if (ds._2 > 0) hit = (st.hostPos, st.dec, ds._1, ds._2)
        }
      }
    }
    val plainOk = pe > 0
    val stmOk = hit != null
    if (plainOk && (!stmOk || plainPos > hit._1)) (b, ps, pe)
    else if (stmOk) (hit._2, hit._3, hit._4)
    else null
  }

  /** /Root → catalog → /Pages → page-tree root → /Count. -1 on any
    * broken hop (missing object, reference-valued Count, truncation).
    * Each hop resolves through plain definitions OR object streams
    * (r20: a 1.5+ file whose catalog lives in a compressed /ObjStm —
    * the dominant modern layout — now reports pages instead of the
    * documented null). */
  private def pageCount(b: Array[Byte], trailer: (Int, Int)): Long = {
    val rootObj = refValue(b, "Root", trailer._1, trailer._2)
    if (rootObj < 0) return -1L
    // ONE sweep + inflate for the whole chain — both hops (and the
    // cross-layer newest-wins check on each) share the decoded streams
    val streams = decodedObjStreams(b)
    val cat = resolveDict(b, streams, rootObj)
    if (cat == null) return -1L
    val pagesObj = refValue(cat._1, "Pages", cat._2, cat._3)
    if (pagesObj < 0) return -1L
    val pages = resolveDict(b, streams, pagesObj)
    if (pages == null) return -1L
    val after = findKey(pages._1, "Count", pages._2, pages._3)
    if (after < 0) return -1L
    val (n, i1) = parseInt(pages._1, after)
    if (n < 0) return -1L
    // `/Count 3 0 R` is an indirect reference, not a count — refuse it
    // rather than reporting the object number as a page count
    val (g, i2) = parseInt(pages._1, i1)
    val i3 = skipWs(pages._1, i2)
    if (g >= 0 && i3 < pages._1.length && pages._1(i3) == 'R') -1L else n
  }

  /** Sniff + parse; null for anything without a `%PDF-M.N` header in the
    * first 1024 bytes. Fields degrade independently: an encrypted or
    * xref-compressed file keeps its version/flags with a null page
    * count. */
  def meta(b: Array[Byte]): GenericInternalRow = {
    if (b == null || b.length < 9) return null
    // "within the first 1024 bytes" = the header STARTS at offset ≤ 1023,
    // so the scan's exclusive end is 1023 + pattern length (r19 ADVICE:
    // `1024 + 5` admitted a start at offset 1024, one past the documented
    // window the Scaladoc, oracle and fixture 13 all pin)
    val h = indexOf(b, "%PDF-".getBytes("US-ASCII"), 0, 1023 + 5)
    if (h < 0 || h + 8 > b.length) return null
    val (maj, mi, pt) = (b(h + 5), b(h + 6), b(h + 7))
    if (maj < '1' || maj > '9' || mi != '.' || pt < '0' || pt > '9')
      return null
    val version = s"${maj.toChar}.${pt.toChar}"
    // Annex F: the linearization parameter dict lives entirely within
    // the first 1024 bytes — a bounded scan is exact
    val linearized =
      findKey(b, "Linearized", h, math.min(b.length, 1024)) >= 0
    val trailer = trailerDict(b)
    if (trailer._2 < 0)
      return new GenericInternalRow(Array[Any](
        UTF8String.fromString(version), null, null, linearized))
    val encrypted = findKey(b, "Encrypt", trailer._1, trailer._2) >= 0
    val pages = pageCount(b, trailer)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(version),
      if (pages < 0) null else pages.toInt,
      encrypted, linearized))
  }
}

/** `pdf_meta(binary)` → `struct<version string, pages int,
  * encrypted boolean, linearized boolean>`, null when the payload has no
  * well-formed `%PDF-M.N` header in its first 1024 bytes. Codegen'd
  * (generated code calls [[PdfHeaderOps.meta]] directly), same posture
  * as [[ImageMeta]] / [[MediaMeta]]. */
case class PdfMeta(child: Expression) extends UnaryExpression {
  override def prettyName: String = "pdf_meta"
  override def nullable: Boolean = true
  override def dataType: DataType = PdfMeta.schema
  override def nullSafeEval(v: Any): Any =
    PdfHeaderOps.meta(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PdfHeaderOps.meta($c);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(newChild: Expression): PdfMeta =
    copy(child = newChild)
}

object PdfMeta {
  val schema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("pages", IntegerType),
    StructField("encrypted", BooleanType),
    StructField("linearized", BooleanType)))

  def column(payload: Column): Column =
    GraftBridge.column(PdfMeta(GraftBridge.expression(payload)))
}
