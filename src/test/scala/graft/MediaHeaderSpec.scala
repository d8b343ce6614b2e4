package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Fixtures._
import graft.functions.MediaHeaderOps

/** [[graft.functions.MediaMeta]] / [[MediaHeaderOps]]: WAV/RIFF + ISO BMFF
  * (MP4) container-header decode (r15 VERDICT depth item 7 — the
  * audio/video sibling of ImageHeaderSpec). Happy paths plus the
  * malformation matrix — every corrupt input must yield null, never throw
  * (the 100 TB contract: one bad blob = one null row, not a task retry
  * storm). The DataFrame test runs the expression through whole-stage
  * codegen; q252 pins the same fixtures under the DuckDB oracle. Inputs
  * come from [[Fixtures]]; the literal expected values are the
  * independent check.
  */
class MediaHeaderSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

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

  test("Matroska/webm: DocType brand, Duration x TimestampScale, audio " +
    "fields, 4- and 8-byte floats, unknown-size segment") {
    // webm, default 1e6-ns ticks, 4-BYTE float duration 2500 → 2500 ms;
    // Opus audio at 48 kHz stereo, no BitDepth element
    val tracks1 = ebmlEl(0x1654AE6BL,
      ebmlEl(0xAEL, ebmlUint(0xD7L, 1, 1) ++ ebmlStr(0x86L, "V_VP9")) ++
        ebmlEl(0xAEL, ebmlStr(0x86L, "A_OPUS") ++
          ebmlEl(0xE1L, ebmlFloat4(0xB5L, 48000.0f) ++ ebmlUint(0x9FL, 2, 1))))
    val info1 = ebmlEl(0x1549A966L,
      ebmlUint(0x2AD7B1L, 1000000L, 3) ++ ebmlFloat4(0x4489L, 2500.0f))
    val webm = ebmlHeader("webm") ++
      ebmlEl(0x18538067L, info1 ++ tracks1 ++
        ebmlEl(0x1F43B675L, ebmlUint(0xE7L, 0, 1)))
    assert(metaOf(webm) === Some(("mkv", Some(2500L), Some(2),
      Some(48000), None, Some("webm"), Some("V_VP9+A_OPUS"))))

    // matroska, 0.5-ms ticks (tsScale 5e5 ns), 8-byte float 1001 ticks →
    // 500.5 ms → floor 500; PCM mono 8 kHz 24-bit
    val tracks2 = ebmlEl(0x1654AE6BL,
      ebmlEl(0xAEL, ebmlStr(0x86L, "A_PCM/INT/LIT") ++
        ebmlEl(0xE1L, ebmlFloat8(0xB5L, 8000.0) ++ ebmlUint(0x9FL, 1, 1) ++
          ebmlUint(0x6264L, 24, 1))))
    val mkv = ebmlHeader("matroska") ++
      ebmlEl(0x18538067L,
        ebmlEl(0x1549A966L, ebmlUint(0x2AD7B1L, 500000L, 3) ++
          ebmlFloat8(0x4489L, 1001.0)) ++ tracks2)
    assert(metaOf(mkv) === Some(("mkv", Some(500L), Some(1), Some(8000),
      Some(24), Some("matroska"), Some("A_PCM/INT/LIT"))))

    // live-stream form: unknown-size Segment (1-byte all-ones VINT) AND
    // unknown-size trailing Cluster, no Duration element — row alive
    val live = ebmlHeader("webm") ++ ebmlId(0x18538067L) ++
      Array(0xff.toByte) ++
      ebmlEl(0x1549A966L, ebmlUint(0x2AD7B1L, 1000000L, 3)) ++
      ebmlEl(0x1654AE6BL, ebmlEl(0xAEL, ebmlStr(0x86L, "V_VP8"))) ++
      ebmlId(0x1F43B675L) ++ Array(0xff.toByte) ++ ebmlUint(0xE7L, 0, 1)
    assert(metaOf(live) === Some(("mkv", None, None, None, None,
      Some("webm"), Some("V_VP8"))))

    // multi-audio-track: the FIRST Audio element wins WHOLESALE — no
    // per-field blending from a later track's Audio (review r18: bits
    // from a PCM commentary track must not attach to the Opus main
    // track's rate/channels)
    val twoAudio = ebmlHeader("matroska") ++ ebmlEl(0x18538067L,
      ebmlEl(0x1549A966L, ebmlUint(0x2AD7B1L, 1000000L, 3)) ++
        ebmlEl(0x1654AE6BL,
          ebmlEl(0xAEL, ebmlStr(0x86L, "A_OPUS") ++
            ebmlEl(0xE1L, ebmlFloat4(0xB5L, 48000.0f) ++
              ebmlUint(0x9FL, 2, 1))) ++
            ebmlEl(0xAEL, ebmlStr(0x86L, "A_PCM/INT/LIT") ++
              ebmlEl(0xE1L, ebmlFloat8(0xB5L, 8000.0) ++
                ebmlUint(0x9FL, 1, 1) ++ ebmlUint(0x6264L, 24, 1)))))
    assert(metaOf(twoAudio) === Some(("mkv", None, Some(2), Some(48000),
      None, Some("matroska"), Some("A_OPUS+A_PCM/INT/LIT"))))

    // +Inf Duration: a structurally valid float carrying garbage — the
    // row survives (brand/codec are still real filterables), duration_ms
    // nulls instead of floor(Inf).toLong saturating to Long.MaxValue
    // (review r18)
    val infDur = ebmlHeader("webm") ++ ebmlEl(0x18538067L,
      ebmlEl(0x1549A966L, ebmlUint(0x2AD7B1L, 1000000L, 3) ++
        ebmlFloat8(0x4489L, Double.PositiveInfinity)) ++
        ebmlEl(0x1654AE6BL, ebmlEl(0xAEL, ebmlStr(0x86L, "V_VP9"))))
    assert(metaOf(infDur) === Some(("mkv", None, None, None, None,
      Some("webm"), Some("V_VP9"))))
  }

  test("Matroska malformations: null, never throw") {
    val happy = ebmlHeader("webm") ++ ebmlEl(0x18538067L,
      ebmlEl(0x1549A966L, ebmlUint(0x2AD7B1L, 1000000L, 3) ++
        ebmlFloat8(0x4489L, 100.0)) ++
        ebmlEl(0x1654AE6BL, ebmlEl(0xAEL, ebmlStr(0x86L, "V_VP9"))))
    assert(metaOf(happy).isDefined) // the base case the mutations corrupt
    val cases: Seq[(String, Array[Byte])] = Seq(
      "truncated mid-element" -> happy.dropRight(3),
      "0x00 where an element id belongs" -> (happy ++ Array[Byte](0)),
      "inner element size overruns its parent" ->
        (ebmlHeader("webm") ++ ebmlEl(0x18538067L,
          ebmlId(0x1549A966L) ++ ebmlVint(1000L) ++ Array[Byte](1, 2, 3))),
      "unknown-size element where it is not allowed (Info)" ->
        (ebmlHeader("webm") ++ ebmlEl(0x18538067L,
          ebmlId(0x1549A966L) ++ Array(0xff.toByte) ++
            ebmlUint(0x2AD7B1L, 1000000L, 3))),
      "9-byte uint TimestampScale" ->
        (ebmlHeader("webm") ++ ebmlEl(0x18538067L,
          ebmlEl(0x1549A966L, ebmlEl(0x2AD7B1L, new Array[Byte](9))))),
      "zero TimestampScale" ->
        (ebmlHeader("webm") ++ ebmlEl(0x18538067L,
          ebmlEl(0x1549A966L, ebmlUint(0x2AD7B1L, 0L, 3)))),
      "5-byte float Duration" ->
        (ebmlHeader("webm") ++ ebmlEl(0x18538067L,
          ebmlEl(0x1549A966L, ebmlEl(0x4489L, new Array[Byte](5))))),
      "empty DocType" -> (ebmlHeader("") ++
        ebmlEl(0x18538067L, ebmlEl(0x1549A966L, Array.emptyByteArray))),
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
