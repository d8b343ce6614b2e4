package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MediaHeaderOps

/** [[graft.functions.MediaMeta]] / [[MediaHeaderOps]]: WAV/RIFF + ISO BMFF
  * (MP4) container-header decode (r15 VERDICT depth item 7 — the
  * audio/video sibling of ImageHeaderSpec). Happy paths plus the
  * malformation matrix — every corrupt input must yield null, never throw
  * (the 100 TB contract: one bad blob = one null row, not a task retry
  * storm). The DataFrame test runs the expression through whole-stage
  * codegen; q252 pins the same fixtures under the DuckDB oracle.
  */
class MediaHeaderSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  // -- byte builders (re-derived from the RIFF / ISO 14496-12 layouts so
  //    the spec does not trust the query's builder) --

  private def wav(fmtTag: Int, ch: Int, rate: Int, bits: Int,
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
    // an odd-sized LIST chunk before data exercises even-padding
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

  /** RF64 (EBU Tech 3306): sentinel 32-bit sizes, real sizes in a leading
    * ds64 chunk. `ds64First = false` moves ds64 after fmt (spec violation
    * the parser must reject); `sentinelRiff = false` writes a real 32-bit
    * RIFF size where the sentinel belongs (also malformed). */
  private def rf64(ch: Int, rate: Int, bits: Int, dataBytes: Int,
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

  private def box(typ: String, payload: Array[Byte]): Array[Byte] =
    java.nio.ByteBuffer.allocate(8 + payload.length)
      .putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
      .put(payload).array()
  private def ftyp(brand: String): Array[Byte] =
    box("ftyp", brand.getBytes("US-ASCII") ++ new Array[Byte](4) ++
      "isommp41".getBytes("US-ASCII"))
  private def mvhd(version: Int, timescale: Int, duration: Long)
      : Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(if (version == 0) 100 else 112)
    bb.put(version.toByte).put(new Array[Byte](3))
    if (version == 0)
      bb.putInt(0).putInt(0).putInt(timescale).putInt(duration.toInt)
    else bb.putLong(0L).putLong(0L).putInt(timescale).putLong(duration)
    bb.putInt(0x00010000).putShort(0x0100.toShort)
    bb.put(new Array[Byte](10))
    bb.putInt(0x00010000).putInt(0).putInt(0)
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
    bb.put(new Array[Byte](24)).putInt(-1)
    box("mvhd", bb.array())
  }
  private def trak(codec: String): Array[Byte] = {
    val entryBody = new Array[Byte](if (codec.endsWith("a")) 28 else 78)
    val entry = java.nio.ByteBuffer.allocate(8 + entryBody.length)
      .putInt(8 + entryBody.length).put(codec.getBytes("US-ASCII"))
      .put(entryBody).array()
    val stsd = java.nio.ByteBuffer.allocate(8 + entry.length)
      .putInt(0).putInt(1).put(entry).array()
    box("trak", box("mdia", box("minf", box("stbl", box("stsd", stsd)))))
  }
  private def mp4(brand: String, ver: Int, ts: Int, dur: Long,
      withMoov: Boolean = true,
      codecs: Seq[String] = Nil): Array[Byte] =
    ftyp(brand) ++
      (if (withMoov)
        box("moov", mvhd(ver, ts, dur) ++ codecs.flatMap(trak).toArray)
      else Array.emptyByteArray) ++
      box("mdat", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))

  // -- fragmented-MP4 builders (ISO 14496-12 §8.8) --
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
  /** trak with explicit id + media timescale (+ optional codec entry). */
  private def trakFrag(trackId: Int, timescale: Int,
      codec: Option[String] = None): Array[Byte] = {
    val stblKids = codec.map { c =>
      val entryBody = new Array[Byte](28)
      val entry = java.nio.ByteBuffer.allocate(8 + entryBody.length)
        .putInt(8 + entryBody.length).put(c.getBytes("US-ASCII"))
        .put(entryBody).array()
      box("stsd", java.nio.ByteBuffer.allocate(8 + entry.length)
        .putInt(0).putInt(1).put(entry).array())
    }.getOrElse(box("stsd", java.nio.ByteBuffer.allocate(8)
      .putInt(0).putInt(0).array()))
    box("trak", tkhd(trackId) ++
      box("mdia", mdhd(timescale) ++ box("minf", box("stbl", stblKids))))
  }
  private def mvex(mehdVer: Int, fragDur: Long): Array[Byte] = {
    val mehd =
      if (mehdVer == 0) box("mehd", java.nio.ByteBuffer.allocate(8)
        .putInt(0).putInt(fragDur.toInt).array())
      else box("mehd", java.nio.ByteBuffer.allocate(12)
        .putInt(0x01000000).putLong(fragDur).array())
    // trex is mandatory in real files; the parser must skip it cleanly
    val trex = box("trex", java.nio.ByteBuffer.allocate(24)
      .putInt(0).putInt(1).putInt(1).putInt(0).putInt(0).putInt(0).array())
    box("mvex", mehd ++ trex)
  }
  /** One moof: tfhd (default duration when given) + trun (per-sample
    * durations when given, else count-only). */
  private def moof(trackId: Int, n: Int, defDur: Option[Int],
      sampleDurs: Option[Seq[Int]], trunOverrun: Boolean = false)
      : Array[Byte] = {
    val tfhdFlags = if (defDur.isDefined) 0x8 else 0x0
    val tfhdBody = java.nio.ByteBuffer
      .allocate(8 + (if (defDur.isDefined) 4 else 0))
    tfhdBody.putInt(tfhdFlags).putInt(trackId)
    defDur.foreach(tfhdBody.putInt)
    val trunFlags = if (sampleDurs.isDefined) 0x100 else 0x0
    val durs = sampleDurs.getOrElse(Nil)
    val trunBody = java.nio.ByteBuffer.allocate(8 + 4 * durs.size)
    trunBody.putInt(trunFlags)
      .putInt(if (trunOverrun) n + 1000 else n) // declared sample count
    durs.foreach(trunBody.putInt)
    val mfhd = box("mfhd", java.nio.ByteBuffer.allocate(8)
      .putInt(0).putInt(1).array())
    box("moof", mfhd ++
      box("traf", box("tfhd", tfhdBody.array()) ++
        box("trun", trunBody.array())))
  }

  private def metaOf(b: Array[Byte])
      : Option[(String, Option[Long], Option[Int], Option[Int],
        Option[Int], Option[String], Option[String])] =
    Option(MediaHeaderOps.meta(b)).map { r =>
      def optI(i: Int) = Option(r.get(i, null)).map(_.asInstanceOf[Int])
      (r.get(0, null).toString,
        Option(r.get(1, null)).map(_.asInstanceOf[Long]),
        optI(2), optI(3), optI(4),
        Option(r.get(5, null)).map(_.toString),
        Option(r.get(6, null)).map(_.toString))
    }

  test("WAV happy paths: PCM stereo, float mono, odd-padded chunk walk") {
    assert(metaOf(wav(1, 2, 44100, 16, 8820)) ===
      Some(("wav", Some(50L), Some(2), Some(44100), Some(16), Some("pcm"),
        None)))
    assert(metaOf(wav(3, 1, 8000, 32, 4000)) ===
      Some(("wav", Some(125L), Some(1), Some(8000), Some(32),
        Some("ieee_float"), None)))
    // odd-sized chunk before data: walk must apply even padding to find it
    assert(metaOf(wav(1, 2, 44100, 16, 8820, oddExtra = true)) ===
      Some(("wav", Some(50L), Some(2), Some(44100), Some(16), Some("pcm"),
        None)))
    // µ-law and an unknown tag map to their brand names
    assert(metaOf(wav(7, 1, 8000, 8, 8000)).flatMap(_._6) ===
      Some("mulaw"))
    assert(metaOf(wav(42, 1, 8000, 8, 8000)).flatMap(_._6) ===
      Some("fmt_42"))
  }

  test("MP4 happy paths: mvhd v0, v1 fractional seconds, init segment, " +
    "trak codecs") {
    assert(metaOf(mp4("isom", 0, 1000, 5000L,
      codecs = Seq("avc1", "mp4a"))) ===
      Some(("mp4", Some(5000L), None, None, None, Some("isom"),
        Some("avc1+mp4a"))))
    // v1: 1500 ticks at 600 Hz = 2.5 s, two-step scaling exact; one trak
    assert(metaOf(mp4("mp42", 1, 600, 1500L, codecs = Seq("mp4a"))) ===
      Some(("mp4", Some(2500L), None, None, None, Some("mp42"),
        Some("mp4a"))))
    // duplicate codec across traks reported once, order preserved
    assert(metaOf(mp4("isom", 0, 1000, 5000L,
      codecs = Seq("mp4a", "avc1", "mp4a"))).flatMap(_._7) ===
      Some("mp4a+avc1"))
    // moov without traks: duration yes, codec null
    assert(metaOf(mp4("isom", 0, 1000, 5000L)) ===
      Some(("mp4", Some(5000L), None, None, None, Some("isom"), None)))
    // brand-only fragment: live row, null duration, null codec
    assert(metaOf(mp4("isom", 0, 0, 0L, withMoov = false)) ===
      Some(("mp4", None, None, None, None, Some("isom"), None)))
  }

  test("WAV range guards: u32 sample rate past Int.MaxValue and zero bits " +
    "are null, not wrapped/garbage metadata") {
    // r16 ADVICE: rate is a u32 read as Long; 0x80000000 passed the <= 0
    // guard and wrapped negative at .toInt — poke the rate field directly
    val wrapped = wav(1, 2, 44100, 16, 400)
    wrapped(24) = 0; wrapped(25) = 0; wrapped(26) = 0
    wrapped(27) = 0x80.toByte // fmt body rate @ 12 (RIFF hdr) + 8 + 4
    assert(metaOf(wrapped).isEmpty)
    assert(metaOf(wav(1, 2, 44100, 0, 400)).isEmpty) // bits = 0
  }

  test("mvhd all-ones 'duration unknown' sentinel leaves duration null, " +
    "row alive") {
    // v0: u32 0xFFFFFFFF; v1: u64 all-ones — ISO 14496-12 unknown marker
    assert(metaOf(mp4("isom", 0, 1000, 0xFFFFFFFFL)) ===
      Some(("mp4", None, None, None, None, Some("isom"), None)))
    assert(metaOf(mp4("mp42", 1, 600, -1L)) ===
      Some(("mp4", None, None, None, None, Some("mp42"), None)))
  }

  test("RF64: ds64 indirection resolves real sizes; violations are null") {
    // 288000 data bytes / (48000 × 2 × 24/8 = 288000 B/s) = 1000 ms
    assert(metaOf(rf64(2, 48000, 24, 288000)) ===
      Some(("wav", Some(1000L), Some(2), Some(48000), Some(24), Some("pcm"),
        None)))
    // mono 16-bit: 8000 bytes / 16000 B/s = 500 ms
    assert(metaOf(rf64(1, 8000, 16, 8000)).flatMap(_._2) === Some(500L))
    // ds64 not the first chunk → malformed (EBU Tech 3306 requires it)
    assert(metaOf(rf64(2, 48000, 24, 4800, ds64First = false)).isEmpty)
    // RF64 fourcc with a REAL 32-bit riff size where the sentinel belongs
    assert(metaOf(rf64(2, 48000, 24, 4800, sentinelRiff = false)).isEmpty)
    // truncation: the ds64-declared riff size overruns the buffer
    assert(metaOf(rf64(2, 48000, 24, 288000).dropRight(64)).isEmpty)
  }

  test("fragmented MP4: mehd total, moof trun sums, unknown and corrupt") {
    val initM = box("moov", mvhd(0, 1000, 0L) ++
      trakFrag(1, 1000, Some("avc1")) ++ mvex(0, 7500L))
    // mvhd duration 0 + mvex/mehd 7500 ticks @ 1000 Hz → 7500 ms
    assert(metaOf(ftyp("isom") ++ initM) ===
      Some(("mp4", Some(7500L), None, None, None, Some("isom"),
        Some("avc1"))))
    // v1 mehd, fractional: 1500 ticks @ 600 Hz = 2500 ms
    assert(metaOf(ftyp("isom") ++ box("moov", mvhd(0, 600, 0L) ++
      trakFrag(1, 600) ++ mvex(1, 1500L))).flatMap(_._2) === Some(2500L))
    // mvhd unknown sentinel + mehd → mehd wins
    assert(metaOf(ftyp("isom") ++ box("moov", mvhd(0, 1000, 0xFFFFFFFFL) ++
      mvex(0, 3000L))).flatMap(_._2) === Some(3000L))
    // no mehd: duration from moof sum — two fragments on track 1
    // (media timescale 600): 10 × defDur 60 + per-sample (120+180+300)
    // = 600 + 600 = 1200 ticks @ 600 Hz = 2000 ms
    val moovNoMehd = box("moov", mvhd(0, 1000, 0L) ++
      trakFrag(1, 600, Some("avc1")))
    val frags = moof(1, 10, Some(60), None) ++
      moof(1, 3, None, Some(Seq(120, 180, 300)))
    assert(metaOf(ftyp("isom") ++ moovNoMehd ++ frags).flatMap(_._2) ===
      Some(2000L))
    // two tracks: duration = the LONGER track (they run in parallel)
    val moov2 = box("moov", mvhd(0, 1000, 0L) ++
      trakFrag(1, 1000) ++ trakFrag(2, 600))
    val frags2 = moof(1, 4, Some(500), None) ++ // 2000 ticks @1000 = 2 s
      moof(2, 3, None, Some(Seq(600, 600, 300))) // 1500 @600 = 2.5 s
    assert(metaOf(ftyp("isom") ++ moov2 ++ frags2).flatMap(_._2) ===
      Some(2500L))
    // positive mvhd duration stays authoritative over fragments
    assert(metaOf(ftyp("isom") ++ box("moov", mvhd(0, 1000, 4000L) ++
      trakFrag(1, 600)) ++ moof(1, 10, Some(60), None)).flatMap(_._2) ===
      Some(4000L))
    // underivable: trun has neither per-sample durations nor a tfhd
    // default → duration null, row ALIVE (init-segment posture)
    assert(metaOf(ftyp("isom") ++ moovNoMehd ++ moof(1, 10, None, None)) ===
      Some(("mp4", None, None, None, None, Some("isom"), Some("avc1"))))
    // moof referencing a track with no known timescale → duration null
    assert(metaOf(ftyp("isom") ++ moovNoMehd ++
      moof(9, 10, Some(60), None)).flatMap(_._2) === None)
    // structural corruption: trun declares more samples than bytes → null
    assert(metaOf(ftyp("isom") ++ moovNoMehd ++
      moof(1, 3, None, Some(Seq(120, 180, 300)), trunOverrun = true)).isEmpty)
  }

  // -- EBML/Matroska builders (re-derived from RFC 8794 VINT rules + the
  //    Matroska element registry, independent of the query's builder) --
  private def eVint(v: Long, forceLen: Int = 0): Array[Byte] = {
    var n = 1
    while (v >= (1L << (7 * n)) - 1) n += 1
    if (forceLen > n) n = forceLen
    val out = new Array[Byte](n)
    out(0) = ((1 << (8 - n)) |
      ((v >> (8 * (n - 1))) & ((1 << (8 - n)) - 1))).toByte
    (1 until n).foreach(k =>
      out(k) = ((v >> (8 * (n - 1 - k))) & 0xff).toByte)
    out
  }
  private def eId(id: Long): Array[Byte] = {
    val n = if (id <= 0xffL) 1 else if (id <= 0xffffL) 2
      else if (id <= 0xffffffL) 3 else 4
    (0 until n).reverse.map(k => ((id >> (8 * k)) & 0xff).toByte).toArray
  }
  private def eEl(id: Long, p: Array[Byte]): Array[Byte] =
    eId(id) ++ eVint(p.length.toLong) ++ p
  private def eUint(id: Long, v: Long, w: Int): Array[Byte] =
    eEl(id, (0 until w).reverse.map(k => ((v >> (8 * k)) & 0xff).toByte).toArray)
  private def eF4(id: Long, v: Float): Array[Byte] =
    eEl(id, java.nio.ByteBuffer.allocate(4).putFloat(v).array())
  private def eF8(id: Long, v: Double): Array[Byte] =
    eEl(id, java.nio.ByteBuffer.allocate(8).putDouble(v).array())
  private def eStr(id: Long, s: String): Array[Byte] =
    eEl(id, s.getBytes("US-ASCII"))
  private def ebmlHeader(docType: String): Array[Byte] =
    eEl(0x1A45DFA3L, eUint(0x4286L, 1, 1) ++ eStr(0x4282L, docType))

  test("Matroska/webm: DocType brand, Duration x TimestampScale, audio " +
    "fields, 4- and 8-byte floats, unknown-size segment") {
    // webm, default 1e6-ns ticks, 4-BYTE float duration 2500 → 2500 ms;
    // Opus audio at 48 kHz stereo, no BitDepth element
    val tracks1 = eEl(0x1654AE6BL,
      eEl(0xAEL, eUint(0xD7L, 1, 1) ++ eStr(0x86L, "V_VP9")) ++
        eEl(0xAEL, eStr(0x86L, "A_OPUS") ++
          eEl(0xE1L, eF4(0xB5L, 48000.0f) ++ eUint(0x9FL, 2, 1))))
    val info1 = eEl(0x1549A966L,
      eUint(0x2AD7B1L, 1000000L, 3) ++ eF4(0x4489L, 2500.0f))
    val webm = ebmlHeader("webm") ++
      eEl(0x18538067L, info1 ++ tracks1 ++
        eEl(0x1F43B675L, eUint(0xE7L, 0, 1)))
    assert(metaOf(webm) === Some(("mkv", Some(2500L), Some(2),
      Some(48000), None, Some("webm"), Some("V_VP9+A_OPUS"))))

    // matroska, 0.5-ms ticks (tsScale 5e5 ns), 8-byte float 1001 ticks →
    // 500.5 ms → floor 500; PCM mono 8 kHz 24-bit
    val tracks2 = eEl(0x1654AE6BL,
      eEl(0xAEL, eStr(0x86L, "A_PCM/INT/LIT") ++
        eEl(0xE1L, eF8(0xB5L, 8000.0) ++ eUint(0x9FL, 1, 1) ++
          eUint(0x6264L, 24, 1))))
    val mkv = ebmlHeader("matroska") ++
      eEl(0x18538067L,
        eEl(0x1549A966L, eUint(0x2AD7B1L, 500000L, 3) ++
          eF8(0x4489L, 1001.0)) ++ tracks2)
    assert(metaOf(mkv) === Some(("mkv", Some(500L), Some(1), Some(8000),
      Some(24), Some("matroska"), Some("A_PCM/INT/LIT"))))

    // live-stream form: unknown-size Segment (1-byte all-ones VINT) AND
    // unknown-size trailing Cluster, no Duration element — row alive
    val live = ebmlHeader("webm") ++ eId(0x18538067L) ++
      Array(0xff.toByte) ++
      eEl(0x1549A966L, eUint(0x2AD7B1L, 1000000L, 3)) ++
      eEl(0x1654AE6BL, eEl(0xAEL, eStr(0x86L, "V_VP8"))) ++
      eId(0x1F43B675L) ++ Array(0xff.toByte) ++ eUint(0xE7L, 0, 1)
    assert(metaOf(live) === Some(("mkv", None, None, None, None,
      Some("webm"), Some("V_VP8"))))

    // multi-audio-track: the FIRST Audio element wins WHOLESALE — no
    // per-field blending from a later track's Audio (review r18: bits
    // from a PCM commentary track must not attach to the Opus main
    // track's rate/channels)
    val twoAudio = ebmlHeader("matroska") ++ eEl(0x18538067L,
      eEl(0x1549A966L, eUint(0x2AD7B1L, 1000000L, 3)) ++
        eEl(0x1654AE6BL,
          eEl(0xAEL, eStr(0x86L, "A_OPUS") ++
            eEl(0xE1L, eF4(0xB5L, 48000.0f) ++ eUint(0x9FL, 2, 1))) ++
            eEl(0xAEL, eStr(0x86L, "A_PCM/INT/LIT") ++
              eEl(0xE1L, eF8(0xB5L, 8000.0) ++ eUint(0x9FL, 1, 1) ++
                eUint(0x6264L, 24, 1)))))
    assert(metaOf(twoAudio) === Some(("mkv", None, Some(2), Some(48000),
      None, Some("matroska"), Some("A_OPUS+A_PCM/INT/LIT"))))

    // +Inf Duration: a structurally valid float carrying garbage — the
    // row survives (brand/codec are still real filterables), duration_ms
    // nulls instead of floor(Inf).toLong saturating to Long.MaxValue
    // (review r18)
    val infDur = ebmlHeader("webm") ++ eEl(0x18538067L,
      eEl(0x1549A966L, eUint(0x2AD7B1L, 1000000L, 3) ++
        eF8(0x4489L, Double.PositiveInfinity)) ++
        eEl(0x1654AE6BL, eEl(0xAEL, eStr(0x86L, "V_VP9"))))
    assert(metaOf(infDur) === Some(("mkv", None, None, None, None,
      Some("webm"), Some("V_VP9"))))
  }

  test("Matroska malformations: null, never throw") {
    val happy = ebmlHeader("webm") ++ eEl(0x18538067L,
      eEl(0x1549A966L, eUint(0x2AD7B1L, 1000000L, 3) ++
        eF8(0x4489L, 100.0)) ++
        eEl(0x1654AE6BL, eEl(0xAEL, eStr(0x86L, "V_VP9"))))
    assert(metaOf(happy).isDefined) // the base case the mutations corrupt
    val cases: Seq[(String, Array[Byte])] = Seq(
      "truncated mid-element" -> happy.dropRight(3),
      "0x00 where an element id belongs" -> (happy ++ Array[Byte](0)),
      "inner element size overruns its parent" ->
        (ebmlHeader("webm") ++ eEl(0x18538067L,
          eId(0x1549A966L) ++ eVint(1000L) ++ Array[Byte](1, 2, 3))),
      "unknown-size element where it is not allowed (Info)" ->
        (ebmlHeader("webm") ++ eEl(0x18538067L,
          eId(0x1549A966L) ++ Array(0xff.toByte) ++
            eUint(0x2AD7B1L, 1000000L, 3))),
      "9-byte uint TimestampScale" ->
        (ebmlHeader("webm") ++ eEl(0x18538067L,
          eEl(0x1549A966L, eEl(0x2AD7B1L, new Array[Byte](9))))),
      "zero TimestampScale" ->
        (ebmlHeader("webm") ++ eEl(0x18538067L,
          eEl(0x1549A966L, eUint(0x2AD7B1L, 0L, 3)))),
      "5-byte float Duration" ->
        (ebmlHeader("webm") ++ eEl(0x18538067L,
          eEl(0x1549A966L, eEl(0x4489L, new Array[Byte](5))))),
      "empty DocType" -> (ebmlHeader("") ++
        eEl(0x18538067L, eEl(0x1549A966L, Array.emptyByteArray))),
      "bare EBML signature" -> Array(0x1a, 0x45, 0xdf, 0xa3)
        .map(_.toByte))
    cases.foreach { case (label, bytes) =>
      assert(metaOf(bytes).isEmpty, label)
    }
  }

  test("malformation matrix: null, never throw") {
    val cases: Seq[(String, Array[Byte])] = Seq(
      "truncated WAV (RIFF size overruns)" ->
        wav(1, 2, 44100, 16, 8820).dropRight(100),
      "WAV missing data chunk" -> wav(1, 2, 44100, 16, 0, withData = false),
      "WAV zero channels" -> wav(1, 0, 44100, 16, 400),
      "WAV zero sample rate" -> wav(1, 2, 0, 16, 400),
      "WAV fmt chunk too short" ->
        wav(1, 2, 44100, 16, 400, fmtLen = 12),
      "WAV chunk size overruns RIFF payload" -> {
        val b = wav(1, 2, 44100, 16, 400)
        // corrupt the data chunk's size field upward
        val i = b.length - 8 - 400 + 4
        b(i) = 0x7f.toByte; b(i + 1) = 0x7f.toByte; b
      },
      "MP4 second box size past EOF" ->
        (ftyp("isom") ++ java.nio.ByteBuffer.allocate(8)
          .putInt(4096).put("mdat".getBytes("US-ASCII")).array()),
      "MP4 box size below header size" ->
        (ftyp("isom") ++ java.nio.ByteBuffer.allocate(8)
          .putInt(4).put("mdat".getBytes("US-ASCII")).array()),
      "MP4 moov interior does not tile" ->
        (ftyp("isom") ++ box("moov", Array[Byte](0, 0, 0, 99, 'x', 'y'))),
      "MP4 trak interior does not tile" ->
        (ftyp("isom") ++ box("moov", mvhd(0, 1000, 5000L) ++
          box("trak", Array[Byte](0, 0, 0, 77, 'z')))),
      "MP4 non-printable box type" ->
        (ftyp("isom") ++ java.nio.ByteBuffer.allocate(8)
          .putInt(8).put(Array[Byte](1, 2, 3, 4)).array()),
      "plain text" -> "not media at all, just text".getBytes("UTF-8"),
      "8-byte RIFF stub" -> "RIFFxxxx".getBytes("US-ASCII"),
      "empty" -> Array.emptyByteArray)
    cases.foreach { case (label, bytes) =>
      assert(metaOf(bytes).isEmpty, label)
    }
  }

  test("media_meta through whole-stage codegen over a DataFrame") {
    val rows = Seq(
      (1L, wav(1, 2, 44100, 16, 8820)),
      (2L, mp4("isom", 0, 1000, 5000L)),
      (3L, "junk".getBytes("UTF-8")))
    val out = rows.toDF("id", "payload")
      .select(col("id"),
        graft.functions.MediaMeta.column(col("payload")).as("m"))
      .select(col("id"), col("m.format"), col("m.duration_ms"),
        col("m.brand"))
      .orderBy(col("id"))
      .collect()
    assert(out.length === 3)
    assert(out(0).getString(1) === "wav" && out(0).getLong(2) === 50L &&
      out(0).getString(3) === "pcm")
    assert(out(1).getString(1) === "mp4" && out(1).getLong(2) === 5000L &&
      out(1).getString(3) === "isom")
    assert(out(2).isNullAt(1) && out(2).isNullAt(2) && out(2).isNullAt(3))
  }

  test("media_meta is SQL-registered via GraftExtensions") {
    SparkTestBase.withExtensions { s =>
      val hex = wav(1, 2, 44100, 16, 8820).map(b => f"$b%02x").mkString
      val r = s.sql(
        s"SELECT media_meta(unhex('$hex')) AS m, " +
          "media_meta(unhex('00')) AS bad")
        .selectExpr("m.format", "m.duration_ms", "m.channels",
          "m.sample_rate", "m.bits", "m.brand", "bad")
        .collect().head
      assert(r.getString(0) === "wav" && r.getLong(1) === 50L &&
        r.getInt(2) === 2 && r.getInt(3) === 44100 && r.getInt(4) === 16 &&
        r.getString(5) === "pcm" && r.isNullAt(6))
    }
  }
}
