package graft

/** Byte builders for the binary-decoder fixtures: real PDF, PNG/JPEG/GIF,
  * WAV/RF64, MP4/fMP4 and EBML (Matroska/webm) headers, built from the
  * format specs rather than copied from sample files. The q251/q252/q258
  * fixture tables and the header specs build their inputs here; the
  * specs' literal expected values stay the independent check. The
  * defaults build the well-formed shape; each malformation is one named
  * parameter.
  */
object Fixtures {

  private def be32(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(v).array()

  // ---- PDF: real header/trailer bytes, built not copied ----------------
  def pdfClassic(version: String, pages: Int,
      encrypted: Boolean = false, linearized: Boolean = false,
      countAsRef: Boolean = false, brokenRoot: Boolean = false)
      : Array[Byte] = {
    val sb = new StringBuilder
    sb.append(s"%PDF-$version\n")
    if (linearized)
      sb.append(s"1 0 obj\n<< /Linearized 1 /L 1234 /N $pages >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Catalog /PageLabels 7 0 R /Pages 3 0 R " +
      ">>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count " +
      (if (countAsRef) "6 0 R" else pages.toString) + " >>\nendobj\n")
    sb.append("4 0 obj\n<< /Type /Page /Parent 3 0 R >>\nendobj\n")
    sb.append("xref\n0 5\ntrailer\n<< /Size 5 /ID [<41> <42>] /Root " +
      (if (brokenRoot) "9" else "2") + " 0 R" +
      (if (encrypted) " /Encrypt 5 0 R" else "") +
      " >>\nstartxref\n9\n%%EOF\n")
    sb.toString.getBytes("US-ASCII")
  }
  /** PDF 1.5+ shape: no `trailer` keyword — /Root and /Encrypt live in
    * the cross-reference STREAM's dictionary, located via startxref. */
  def pdfXrefStream(version: String, pages: Int,
      encrypted: Boolean = false, offsetPastEof: Boolean = false)
      : Array[Byte] = {
    val head = s"%PDF-$version\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      s"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count $pages >>\nendobj\n"
    val xrefObj = "4 0 obj\n<< /Type /XRef /Size 5 /Root 1 0 R" +
      (if (encrypted) " /Encrypt 5 0 R" else "") +
      " /W [1 2 1] /Length 0 >>\nstream\nendstream\nendobj\n"
    val off = if (offsetPastEof) 999999 else head.length
    (head + xrefObj + s"startxref\n$off\n%%EOF\n").getBytes("US-ASCII")
  }
  /** Incremental update (ISO 32000-1 §7.5.6): the original page tree
    * (/Count 3) plus an APPENDED newer definition of the same object
    * (/Count 8) and a second trailer — the reader must report the
    * newest. */
  def pdfIncremental: Array[Byte] = {
    val orig = "%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 3 >>\nendobj\n" +
      "trailer\n<< /Size 4 /Root 1 0 R >>\nstartxref\n9\n%%EOF\n"
    val update =
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 8 >>\nendobj\n" +
        "trailer\n<< /Size 6 /Root 1 0 R /Prev 9 >>\nstartxref\n99\n%%EOF\n"
    (orig + update).getBytes("US-ASCII")
  }
  /** PDF 1.5+ compressed-catalog shape (r20, the r19 depth item): the
    * catalog (1 0) and page-tree root (2 0) live INSIDE a FlateDecoded
    * `/Type /ObjStm` (3 0); no plain definition of either exists. The
    * xref STREAM object (4 0) carries /Root and is located via
    * startxref. `mangle` rewrites the compressed body (a bit-flip makes
    * the bounded inflate fail → null pages, never a throw). */
  def pdfObjStmCatalog(version: String, pages: Int,
      mangle: Array[Byte] => Array[Byte] = identity): Array[Byte] = {
    val o1 = "<< /Type /Catalog /Pages 2 0 R >>"
    val o2 = s"<< /Type /Pages /Kids [5 0 R] /Count $pages >>"
    val hdr = s"1 0 2 ${o1.length + 1}"
    val first = hdr.length + 1
    val decoded = (hdr + "\n" + o1 + " " + o2).getBytes("US-ASCII")
    val defl = new java.util.zip.Deflater()
    defl.setInput(decoded); defl.finish()
    val buf = new Array[Byte](decoded.length + 64)
    val n = defl.deflate(buf); defl.end()
    val comp = mangle(java.util.Arrays.copyOf(buf, n))
    val head = s"%PDF-$version\n"
    val objStm = s"3 0 obj\n<< /Type /ObjStm /N 2 /First $first " +
      s"/Filter /FlateDecode /Length ${comp.length} >>\nstream\n"
    val tail = "\nendstream\nendobj\n"
    val xrefOff = head.length + objStm.length + comp.length + tail.length
    val xrefObj = "4 0 obj\n<< /Type /XRef /Size 6 /Root 1 0 R " +
      "/W [1 2 1] /Length 0 >>\nstream\nendstream\nendobj\n"
    (head + objStm).getBytes("US-ASCII") ++ comp ++
      (tail + xrefObj + s"startxref\n$xrefOff\n%%EOF\n")
        .getBytes("US-ASCII")
  }

  // ---- images: real header bytes, built not copied ---------------------
  /** PNG signature + IHDR chunk. `crcXor` flips CRC bits, `ihdrType` and
    * `ihdrLen` forge the first chunk's type and declared length. */
  def png(w: Int, h: Int, colorType: Int, bitDepth: Int = 8,
      crcXor: Long = 0L, ihdrType: String = "IHDR",
      ihdrLen: Int = 13): Array[Byte] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    val typeAndData = ihdrType.getBytes("US-ASCII") ++
      java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(bitDepth.toByte).put(colorType.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val crc = new java.util.zip.CRC32
    crc.update(typeAndData)
    sig ++ be32(ihdrLen) ++ typeAndData ++ be32((crc.getValue ^ crcXor).toInt)
  }
  /** SOI, the leading segments (default: one COM "hi"), then the SOF
    * frame header. */
  def jpeg(w: Int, h: Int, ch: Int, sofMarker: Int = 0xc0,
      leadingSegments: Seq[Array[Byte]] = Seq(
        Array(0xff, 0xfe, 0, 4, 'h', 'i').map(_.toByte))): Array[Byte] = {
    val sofLen = 8 + 3 * ch
    val sof = java.nio.ByteBuffer.allocate(2 + sofLen)
    sof.put(0xff.toByte).put(sofMarker.toByte).putShort(sofLen.toShort)
    sof.put(8.toByte).putShort(h.toShort).putShort(w.toShort).put(ch.toByte)
    (0 until ch).foreach(i =>
      sof.put((i + 1).toByte).put(0x11.toByte).put(0.toByte))
    Array(0xff, 0xd8).map(_.toByte) ++ leadingSegments.flatten ++ sof.array()
  }
  /** GIF8<ver>a logical screen descriptor, little-endian dimensions. */
  def gif(w: Int, h: Int, ver: Char = '9'): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(13)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(s"GIF8${ver}a".getBytes("US-ASCII"))
    bb.putShort(w.toShort).putShort(h.toShort)
    bb.put(0.toByte).put(0.toByte).put(0.toByte)
    bb.array()
  }

  // ---- media: real container bytes, built not copied -------------------
  /** RIFF/WAVE with a fmt chunk truncated to `fmtLen` bytes, an optional
    * odd-sized LIST chunk before data (exercises even-padding), and an
    * optional data chunk. */
  def wav(fmtTag: Int, ch: Int, rate: Int, bits: Int,
      dataBytes: Int, withData: Boolean = true,
      fmtLen: Int = 16, oddExtra: Boolean = false): Array[Byte] = {
    val byteRate = rate * ch * bits / 8
    // full 16-byte field block, then truncated to the declared fmtLen (the
    // "fmt chunk too short" case carries a consistent header + short body)
    val fmtBody = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(fmtTag.toShort).putShort(ch.toShort)
      .putInt(rate).putInt(byteRate)
      .putShort((ch * bits / 8).toShort).putShort(bits.toShort)
      .array().take(fmtLen)
    val fmtChunk = java.nio.ByteBuffer.allocate(8 + fmtLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fmtChunk.put("fmt ".getBytes("US-ASCII")).putInt(fmtLen).put(fmtBody)
    val odd = if (oddExtra)
      "LIST".getBytes("US-ASCII") ++
        java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(3).array() ++
        Array[Byte]('a', 'b', 'c', 0) // 3 bytes + 1 pad
    else Array.emptyByteArray
    val dataLen = if (withData) 8 + dataBytes else 0
    val riffSize = 4 + (8 + fmtLen) + odd.length + dataLen
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII")).put(fmtChunk.array()).put(odd)
    if (withData)
      bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
        .put(new Array[Byte](dataBytes))
    bb.array()
  }
  /** RF64 (EBU Tech 3306): sentinel 32-bit sizes, real sizes in a ds64
    * chunk that must lead. `ds64First = false` moves ds64 after fmt and
    * `sentinelRiff = false` writes a real 32-bit RIFF size where the
    * sentinel belongs — both spec violations the parser must refuse. */
  def rf64(ch: Int, rate: Int, bits: Int, dataBytes: Int,
      ds64First: Boolean = true, sentinelRiff: Boolean = true): Array[Byte] = {
    val byteRate = rate * ch * bits / 8
    val fmt = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fmt.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(ch.toShort).putInt(rate).putInt(byteRate)
      .putShort((ch * bits / 8).toShort).putShort(bits.toShort)
    val riffSize = 4 + (8 + 28) + 24 + (8 + dataBytes)
    val ds64 = java.nio.ByteBuffer.allocate(36)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ds64.put("ds64".getBytes("US-ASCII")).putInt(28)
      .putLong(riffSize.toLong).putLong(dataBytes.toLong)
      .putLong(if (byteRate > 0) dataBytes.toLong / (ch * bits / 8) else 0L)
      .putInt(0)
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RF64".getBytes("US-ASCII"))
      .putInt(if (sentinelRiff) -1 else riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    if (ds64First) bb.put(ds64.array()).put(fmt.array())
    else bb.put(fmt.array()).put(ds64.array())
    bb.put("data".getBytes("US-ASCII")).putInt(-1) // sentinel data size
      .put(new Array[Byte](dataBytes))
    bb.array()
  }

  /** One ISO BMFF box: 32-bit size + fourcc + payload. */
  def box(typ: String, payload: Array[Byte]): Array[Byte] =
    java.nio.ByteBuffer.allocate(8 + payload.length)
      .putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
      .put(payload).array()
  def ftyp(brand: String): Array[Byte] =
    box("ftyp", brand.getBytes("US-ASCII") ++ new Array[Byte](4) ++
      "isommp41".getBytes("US-ASCII"))
  def mvhd(version: Int, timescale: Int, duration: Long): Array[Byte] = {
    // spec-sized payload: v0 = 100 bytes, v1 = 112 (ISO 14496-12 §8.2.2)
    val bb = java.nio.ByteBuffer.allocate(if (version == 0) 100 else 112)
    bb.put(version.toByte).put(new Array[Byte](3)) // version + flags
    if (version == 0)
      bb.putInt(0).putInt(0).putInt(timescale).putInt(duration.toInt)
    else
      bb.putLong(0L).putLong(0L).putInt(timescale).putLong(duration)
    bb.putInt(0x00010000).putShort(0x0100.toShort) // rate 1.0, volume 1.0
    // reserved(10) + unity matrix(36) + predefined(24) + next_track(4)
    bb.put(new Array[Byte](10))
    bb.putInt(0x00010000).putInt(0).putInt(0)
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
    bb.put(new Array[Byte](24)).putInt(-1)
    box("mvhd", bb.array())
  }
  /** One trak with a single stsd sample entry: codec fourcc + a
    * spec-sized zero body (86-byte visual entry / 36-byte audio entry —
    * the parser reads only the entry header, the size keeps the geometry
    * honest). */
  def trak(codec: String): Array[Byte] = {
    val entryBody = new Array[Byte](if (codec.endsWith("a")) 28 else 78)
    val entry = java.nio.ByteBuffer.allocate(8 + entryBody.length)
      .putInt(8 + entryBody.length).put(codec.getBytes("US-ASCII"))
      .put(entryBody).array()
    val stsdPayload = java.nio.ByteBuffer.allocate(8 + entry.length)
      .putInt(0).putInt(1).put(entry).array() // ver/flags + entry_count
    box("trak", box("mdia", box("minf", box("stbl", box("stsd", stsdPayload)))))
  }
  def mp4(brand: String, mvhdVersion: Int, timescale: Int, duration: Long,
      withMoov: Boolean = true, codecs: Seq[String] = Nil): Array[Byte] =
    ftyp(brand) ++
      (if (withMoov)
        box("moov", mvhd(mvhdVersion, timescale, duration) ++
          codecs.flatMap(trak).toArray)
      else Array.emptyByteArray) ++
      box("mdat", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))

  // Fragmented-MP4 pieces (ISO 14496-12 §8.8).
  private def tkhd(trackId: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(84) // v0 layout
    bb.putInt(0).putInt(0).putInt(0).putInt(trackId) // ver/flags, c, m, id
    box("tkhd", bb.array())
  }
  private def mdhd(timescale: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(24)
    bb.putInt(0).putInt(0).putInt(0).putInt(timescale)
    box("mdhd", bb.array())
  }
  /** trak with explicit track_id + media timescale (+ optional codec
    * entry; without one the stsd is empty). */
  def trakFrag(trackId: Int, timescale: Int,
      codec: Option[String] = None): Array[Byte] = {
    val stsd = codec.map { c =>
      val entryBody = new Array[Byte](28)
      val entry = java.nio.ByteBuffer.allocate(8 + entryBody.length)
        .putInt(8 + entryBody.length).put(c.getBytes("US-ASCII"))
        .put(entryBody).array()
      box("stsd", java.nio.ByteBuffer.allocate(8 + entry.length)
        .putInt(0).putInt(1).put(entry).array())
    }.getOrElse(box("stsd", java.nio.ByteBuffer.allocate(8)
      .putInt(0).putInt(0).array()))
    box("trak", tkhd(trackId) ++
      box("mdia", mdhd(timescale) ++ box("minf", box("stbl", stsd))))
  }
  /** mvex: mehd (version 0 = 32-bit, 1 = 64-bit fragment duration) plus
    * the mandatory trex the parser must skip. */
  def mvex(mehdVersion: Int, fragDur: Long): Array[Byte] = {
    val mehd =
      if (mehdVersion == 0) box("mehd", java.nio.ByteBuffer.allocate(8)
        .putInt(0).putInt(fragDur.toInt).array())
      else box("mehd", java.nio.ByteBuffer.allocate(12)
        .putInt(0x01000000).putLong(fragDur).array())
    val trex = box("trex", java.nio.ByteBuffer.allocate(24)
      .putInt(0).putInt(1).putInt(1).putInt(0).putInt(0).putInt(0).array())
    box("mvex", mehd ++ trex)
  }
  /** One moof: tfhd (default duration when given) + trun (per-sample
    * durations when given, else count-only; `trunOverrun` declares more
    * samples than the box holds). */
  def moof(trackId: Int, n: Int, defDur: Option[Int],
      sampleDurs: Option[Seq[Int]], trunOverrun: Boolean = false)
      : Array[Byte] = {
    val tfhdBody = java.nio.ByteBuffer
      .allocate(8 + (if (defDur.isDefined) 4 else 0))
    tfhdBody.putInt(if (defDur.isDefined) 0x8 else 0x0).putInt(trackId)
    defDur.foreach(tfhdBody.putInt)
    val durs = sampleDurs.getOrElse(Nil)
    val trunBody = java.nio.ByteBuffer.allocate(8 + 4 * durs.size)
    trunBody.putInt(if (sampleDurs.isDefined) 0x100 else 0x0)
      .putInt(if (trunOverrun) n + 1000 else n) // declared sample count
    durs.foreach(trunBody.putInt)
    val mfhd = box("mfhd", java.nio.ByteBuffer.allocate(8)
      .putInt(0).putInt(1).array())
    box("moof", mfhd ++ box("traf",
      box("tfhd", tfhdBody.array()) ++ box("trun", trunBody.array())))
  }

  // EBML/Matroska builders (r17 item 6): RFC 8794 VINTs emitted minimal-
  // length; ids carry their marker byte(s) verbatim.
  def ebmlVint(v: Long): Array[Byte] = {
    var n = 1
    while (v >= (1L << (7 * n)) - 1) n += 1 // all-ones = "unknown", avoid
    val out = new Array[Byte](n)
    out(0) = ((1 << (8 - n)) |
      ((v >> (8 * (n - 1))) & ((1 << (8 - n)) - 1))).toByte
    (1 until n).foreach(k => out(k) = ((v >> (8 * (n - 1 - k))) & 0xff).toByte)
    out
  }
  def ebmlId(id: Long): Array[Byte] = {
    val n = if (id <= 0xffL) 1 else if (id <= 0xffffL) 2
      else if (id <= 0xffffffL) 3 else 4
    (0 until n).reverse.map(k => ((id >> (8 * k)) & 0xff).toByte).toArray
  }
  def ebmlEl(id: Long, payload: Array[Byte]): Array[Byte] =
    ebmlId(id) ++ ebmlVint(payload.length.toLong) ++ payload
  def ebmlUint(id: Long, v: Long, width: Int): Array[Byte] =
    ebmlEl(id,
      (0 until width).reverse.map(k => ((v >> (8 * k)) & 0xff).toByte).toArray)
  def ebmlFloat4(id: Long, v: Float): Array[Byte] =
    ebmlEl(id, java.nio.ByteBuffer.allocate(4).putFloat(v).array())
  def ebmlFloat8(id: Long, v: Double): Array[Byte] =
    ebmlEl(id, java.nio.ByteBuffer.allocate(8).putDouble(v).array())
  def ebmlStr(id: Long, s: String): Array[Byte] =
    ebmlEl(id, s.getBytes("US-ASCII"))
  /** EBML header: EBMLVersion (exercises the skip path), DocType and an
    * optional DocTypeVersion. */
  def ebmlHeader(docType: String,
      docTypeVersion: Option[Long] = None): Array[Byte] =
    ebmlEl(0x1A45DFA3L, ebmlUint(0x4286L, 1, 1) ++ ebmlStr(0x4282L, docType) ++
      docTypeVersion.fold(Array.emptyByteArray)(ebmlUint(0x4287L, _, 1)))
  /** Matroska/webm container: EBML header (DocType) + Segment with Info
    * (TimestampScale + optional float Duration), Tracks (CodecID per
    * track; optional Audio with SamplingFrequency/Channels/BitDepth>0),
    * and one Cluster. `unknownSegment` writes the Segment size as the
    * 1-byte all-ones VINT — the live-streaming form. */
  def mkv(docType: String, tsScale: Long, durTicks: Double,
      tracks: Seq[(String, Option[(Double, Int, Int)])],
      withDuration: Boolean = true,
      unknownSegment: Boolean = false): Array[Byte] = {
    val header = ebmlHeader(docType, docTypeVersion = Some(4L))
    val info = ebmlEl(0x1549A966L,
      ebmlUint(0x2AD7B1L, tsScale, 3) ++
        (if (withDuration) ebmlFloat8(0x4489L, durTicks)
         else Array.emptyByteArray))
    val trackEls = tracks.flatMap { case (codec, audio) =>
      ebmlEl(0xAEL,
        ebmlUint(0xD7L, 1, 1) ++ // TrackNumber — skipped by the parser
          ebmlStr(0x86L, codec) ++
          audio.map { case (sr, ch, bits) =>
            ebmlEl(0xE1L, ebmlFloat8(0xB5L, sr) ++ ebmlUint(0x9FL, ch, 1) ++
              (if (bits > 0) ebmlUint(0x6264L, bits, 1)
               else Array.emptyByteArray))
          }.getOrElse(Array.emptyByteArray))
    }.toArray
    val cluster = ebmlEl(0x1F43B675L, ebmlUint(0xE7L, 0, 1))
    val segPayload = info ++ ebmlEl(0x1654AE6BL, trackEls) ++ cluster
    header ++ (if (unknownSegment)
      ebmlId(0x18538067L) ++ Array(0xff.toByte) ++ segPayload
    else ebmlEl(0x18538067L, segPayload))
  }

  // ---- WASDE workbooks ---------------------------------------------------
  /** The committed golden workbook (tools/MakeFixtures regenerates it). */
  def wasdeXlsxBytes: Array[Byte] = resource("/graft/fixtures/wasde.xlsx")

  /** The same workbook in legacy BIFF8 (tools/MakeFixtures). */
  def wasdeXlsBytes: Array[Byte] = resource("/graft/fixtures/wasde.xls")

  private def resource(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    try in.readAllBytes() finally in.close()
  }
}
