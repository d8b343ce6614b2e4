package graft
package contract

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Binary decoders: image, media and PDF header metadata over the
  * byte fixtures in [[graft.Fixtures]], plus the multimodal stub. */
object BinaryQueries {
  import Tables._
  import Shared._
  import Fixtures._

  private def pdfFixture: Seq[(Long, Array[Byte])] = Seq(
    1L -> pdfClassic("1.4", 5),
    2L -> pdfClassic("1.7", 12, linearized = true),
    3L -> pdfClassic("1.6", 2, encrypted = true),
    4L -> pdfXrefStream("1.5", 7),
    5L -> pdfIncremental, // newest /Count wins: 8, not 3
    // crawl payload with an HTTP-ish junk prefix; header inside 1024 B
    6L -> ("HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n"
      .getBytes("US-ASCII") ++ pdfClassic("1.3", 1)),
    7L -> "%PDF-1.".getBytes("US-ASCII"), // truncated header
    8L -> "not a pdf at all".getBytes("UTF-8"),
    9L -> pdfClassic("1.4", 5, countAsRef = true), // /Count 6 0 R
    10L -> pdfClassic("1.4", 5, brokenRoot = true), // /Root -> no object
    // truncated (unbalanced) trailer dict, no startxref fallback:
    // version + linearized survive, pages/encrypted null
    11L -> "%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\ntrailer\n<< /Size 5 /Root 1 0 R\n"
      .getBytes("US-ASCII"),
    12L -> pdfXrefStream("1.5", 7, offsetPastEof = true),
    // header past the 1024-byte spec window -> not a PDF
    13L -> (Array.fill[Byte](1100)(' ') ++ pdfClassic("1.4", 5)),
    14L -> pdfXrefStream("1.6", 4, encrypted = true),
    // compressed catalog (r20): pages resolve THROUGH the FlateDecoded
    // object stream; 16 bit-flips the deflate body -> null pages only
    15L -> pdfObjStmCatalog("1.5", 9),
    16L -> pdfObjStmCatalog("1.5", 9, _.map(b => (b ^ 0x5a).toByte)))

  private def imageFixture: Seq[(Long, Array[Byte])] = Seq(
    1L -> png(640, 480, 6), // RGBA
    2L -> png(32, 8, 0), // grayscale
    3L -> jpeg(1024, 768, 3), // baseline color
    4L -> jpeg(17, 1, 1), // progressive would be 0xc2 — same header
    5L -> gif(320, 200),
    6L -> jpeg(1024, 768, 3).dropRight(9), // truncated mid-SOF
    7L -> png(640, 480, 6, crcXor = 0xff), // bit-flipped IHDR
    8L -> "not an image at all".getBytes("UTF-8"),
    // SOS where the frame header should be: desync/no-SOF stream
    9L -> Array(0xff, 0xd8, 0xff, 0xda, 0, 4, 0, 0).map(_.toByte))

  private def mediaFixture: Seq[(Long, Array[Byte])] = Seq(
    // 8820 data bytes / 176400 B/s = 50 ms stereo 16-bit PCM
    1L -> wav(1, 2, 44100, 16, 8820),
    // 4000 / 32000 = 125 ms mono 32-bit float
    2L -> wav(3, 1, 8000, 32, 4000),
    // mvhd v0: 5000 / 1000 ts = 5000 ms; video+audio traks → "avc1+mp4a"
    3L -> mp4("isom", 0, 1000, 5000L, codecs = Seq("avc1", "mp4a")),
    // mvhd v1: 1500 / 600 ts = 2500 ms (non-integer seconds exercises the
    // overflow-safe two-step scaling); audio-only → "mp4a"
    4L -> mp4("mp42", 1, 600, 1500L, codecs = Seq("mp4a")),
    // brand-only init segment: no moov, duration stays null, row survives
    5L -> mp4("isom", 0, 0, 0L, withMoov = false),
    // truncated mid-data: RIFF size overruns the buffer
    6L -> wav(1, 2, 44100, 16, 8820).dropRight(100),
    // no data chunk at all
    7L -> wav(1, 2, 44100, 16, 0, withData = false),
    // zero channels in fmt
    8L -> wav(1, 0, 44100, 16, 400),
    // second box declares a size past EOF
    9L -> (ftyp("isom") ++ java.nio.ByteBuffer.allocate(8)
      .putInt(4096).put("mdat".getBytes("US-ASCII")).array()),
    // moov whose interior does not tile (garbage child box)
    10L -> (ftyp("isom") ++
      box("moov", Array[Byte](0, 0, 0, 99, 'x', 'y'))),
    11L -> "not media at all, just text".getBytes("UTF-8"),
    12L -> "RIFFxxxx".getBytes("US-ASCII"),
    // r17 depth rows (RF64 + fragmented MP4 + the r16 review guards):
    // RF64 via ds64 indirection — 288000 B / 288000 B/s = 1000 ms
    13L -> rf64(2, 48000, 24, 288000),
    // fMP4 init segment with mvex/mehd: mvhd duration 0, total 7500
    // ticks @ 1000 Hz from mehd → 7500 ms
    14L -> (ftyp("isom") ++ box("moov",
      mvhd(0, 1000, 0L) ++ trakFrag(1, 1000, Some("avc1")) ++
        mvex(0, 7500L))),
    // fMP4 without mehd: duration = moof sum on track 1 (media
    // timescale 600): 10 × 60 default + (120+180+300) per-sample
    // = 1200 ticks → 2000 ms
    15L -> (ftyp("isom") ++ box("moov",
      mvhd(0, 1000, 0L) ++ trakFrag(1, 600, Some("avc1"))) ++
      moof(1, 10, Some(60), None) ++
      moof(1, 3, None, Some(Seq(120, 180, 300)))),
    // RF64 whose ds64 is not the first chunk — spec violation, null
    16L -> rf64(2, 48000, 24, 4800, ds64First = false),
    // moof trun declares more samples than its box holds — corrupt, null
    17L -> (ftyp("isom") ++ box("moov",
      mvhd(0, 1000, 0L) ++ trakFrag(1, 600, Some("avc1"))) ++
      moof(1, 3, None, Some(Seq(120, 180, 300)), trunOverrun = true)),
    // WAV u32 sample rate past Int.MaxValue — must be null, not wrapped
    18L -> wav(1, 2, Int.MinValue, 16, 400),
    // mvhd all-ones 'duration unknown' sentinel: row alive, duration null
    19L -> mp4("isom", 0, 1000, 0xFFFFFFFFL, codecs = Seq("mp4a")),
    // r18 rows 20-25: EBML/Matroska (r17 VERDICT item 6).
    // webm VP9+Opus, default 1e6-ns ticks: 12345 ticks = 12345 ms; the
    // audio track carries rate/channels, Opus ships no BitDepth
    20L -> mkv("webm", 1000000L, 12345.0,
      Seq("V_VP9" -> None, "A_OPUS" -> Some((48000.0, 2, 0)))),
    // matroska PCM audio, 2e6-ns ticks: 500.25 ticks → 1000.5 → 1000 ms
    21L -> mkv("matroska", 2000000L, 500.25,
      Seq("A_PCM/INT/LIT" -> Some((8000.0, 1, 24)))),
    // live-stream form: unknown-size Segment, no Duration element —
    // row alive, duration null (the mp4 brand-only posture)
    22L -> mkv("webm", 1000000L, 0.0,
      Seq("V_VP8" -> None), withDuration = false, unknownSegment = true),
    // truncated mid-cluster: an element's declared size overruns → null
    23L -> mkv("webm", 1000000L, 12345.0,
      Seq("V_VP9" -> None)).dropRight(3),
    // a 0x00 byte where an element id belongs: invalid VINT → null
    24L -> (mkv("webm", 1000000L, 1.0, Seq("V_VP9" -> None))
      ++ Array[Byte](0)),
    // empty DocType string → null (no brand to report)
    25L -> mkv("", 1000000L, 1.0, Seq("V_VP9" -> None)))

  val contracts: Seq[Contract] = Seq(
    // North star: multimodal binary-column plumbing with stubbed decode.
    // The decode itself runs per-partition over the binary payload (see
    // Multimodal scaladoc); the output flattens the feature vector to scalar
    // columns so the driver's oracle compare (which sorts rows by every
    // column) can hash it — the length-derived stub is mirrored in DuckDB.
    Contract("q34_multimodal", ((s, d) => {
      val dec = Multimodal.decodeFeatures(
        Multimodal.withBinaryPayload(documents(s, d), "doc_id", "text"))
      dec.select(Seq(col("doc_id"), col("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height")) ++
        (1 to 8).map(i => element_at(col("feature"), i).as(s"f$i")): _*)
    }),
      """SELECT doc_id,
        | CAST(strlen(text) AS BIGINT) AS n_bytes,
        | CAST(64 + strlen(text) % 97 AS BIGINT) AS width,
        | CAST(64 + (strlen(text) * 31) % 97 AS BIGINT) AS height,
        | CAST((strlen(text) * 1) % 256 AS DOUBLE) / 255.0 AS f1,
        | CAST((strlen(text) * 2) % 256 AS DOUBLE) / 255.0 AS f2,
        | CAST((strlen(text) * 3) % 256 AS DOUBLE) / 255.0 AS f3,
        | CAST((strlen(text) * 4) % 256 AS DOUBLE) / 255.0 AS f4,
        | CAST((strlen(text) * 5) % 256 AS DOUBLE) / 255.0 AS f5,
        | CAST((strlen(text) * 6) % 256 AS DOUBLE) / 255.0 AS f6,
        | CAST((strlen(text) * 7) % 256 AS DOUBLE) / 255.0 AS f7,
        | CAST((strlen(text) * 8) % 256 AS DOUBLE) / 255.0 AS f8
        |FROM documents""".stripMargin),

    // Real multimodal header decode (r14 VERDICT missing-item 1): the
    // native image_meta expression over literal image bytes built
    // in-process — well-formed PNG/JPEG/GIF headers parse to (format,
    // width, height, channels); a truncated SOF, a CRC-flipped IHDR, a
    // scan-before-frame marker stream and plain non-image bytes each parse
    // to NULL, never throw (the 100 TB posture: one corrupt blob = one
    // null row). q149 posture: expected rows carried in the oracle VALUES.
    Contract("q251_image_meta", ((s, d) => {
      import s.implicits._
      imageFixture.toDF("img_id", "payload")
        .select(col("img_id"),
          graft.functions.ImageMeta.column(col("payload")).as("m"))
        .select(col("img_id"), col("m.format").as("format"),
          col("m.width").cast("long").as("width"),
          col("m.height").cast("long").as("height"),
          col("m.channels").cast("long").as("channels"))
    }),
      // q251: expected header-decode rows carried as VALUES (q149 posture —
      // DuckDB has no image parser; the fixture bytes are deterministic and
      // the spec additionally re-derives them against java.util.zip.CRC32 /
      // the marker grammar). Malformed fixtures (6, 7, 9) and the non-image
      // payload (8) pin the null-not-throw contract.
      """SELECT CAST(img_id AS BIGINT) AS img_id, format,
        | CAST(width AS BIGINT) AS width,
        | CAST(height AS BIGINT) AS height,
        | CAST(channels AS BIGINT) AS channels
        |FROM (VALUES
        |  (1, 'png', 640, 480, 4),
        |  (2, 'png', 32, 8, 1),
        |  (3, 'jpeg', 1024, 768, 3),
        |  (4, 'jpeg', 17, 1, 1),
        |  (5, 'gif', 320, 200, 3),
        |  (6, NULL, NULL, NULL, NULL),
        |  (7, NULL, NULL, NULL, NULL),
        |  (8, NULL, NULL, NULL, NULL),
        |  (9, NULL, NULL, NULL, NULL))
        |  AS t(img_id, format, width, height, channels)""".stripMargin),

    // native media_meta expression over literal WAV/MP4 container bytes
    // built in-process (the audio/video sibling of q251, r15 VERDICT depth
    // item 7) — well-formed RIFF/WAVE and ISO-BMFF headers parse to
    // (format, duration_ms, channels, sample_rate, bits, brand); a
    // truncated RIFF payload, a missing data chunk, a zero-channel fmt, a
    // box-size overrun and a corrupt moov interior each parse to NULL,
    // never throw; a brand-only ftyp fragment (streaming init segment)
    // keeps duration null without failing the row.
    Contract("q252_media_meta", ((s, d) => {
      import s.implicits._
      mediaFixture.toDF("media_id", "payload")
        .select(col("media_id"),
          graft.functions.MediaMeta.column(col("payload")).as("m"))
        .select(col("media_id"), col("m.format").as("format"),
          col("m.duration_ms").as("duration_ms"),
          col("m.channels").cast("long").as("channels"),
          col("m.sample_rate").cast("long").as("sample_rate"),
          col("m.bits").cast("long").as("bits"),
          col("m.brand").as("brand"),
          col("m.codec").as("codec"))
    }),
      // q252: same posture as q251 for the audio/video containers — DuckDB
      // has no WAV/MP4 parser; the fixture bytes are deterministic
      // (byte-rate arithmetic and mvhd timescale math re-derived in
      // MediaHeaderSpec against the RIFF / ISO 14496-12 layouts). Rows 6-12
      // pin null-not-throw on truncation, missing chunks, zero channels,
      // box overrun, corrupt moov, non-media bytes; row 5 pins the
      // brand-only init segment keeping a live row with null duration.
      // r17 rows 13-19: RF64 ds64 indirection (happy + ds64-out-of-order),
      // fragmented-MP4 duration via mvex/mehd and via the moof/trun sum,
      // a trun overrun (corrupt → null), the wrapped-u32 sample rate, and
      // the mvhd 'duration unknown' sentinel (live row, null duration).
      // r18 rows 20-25: EBML/Matroska — webm VP9+Opus with audio fields,
      // matroska PCM with a non-default TimestampScale (float Duration ×
      // ns-scale → floor ms), unknown-size Segment live-stream form (row
      // alive, null duration), truncation, invalid VINT, empty DocType.
      """SELECT CAST(media_id AS BIGINT) AS media_id, format,
        | CAST(duration_ms AS BIGINT) AS duration_ms,
        | CAST(channels AS BIGINT) AS channels,
        | CAST(sample_rate AS BIGINT) AS sample_rate,
        | CAST(bits AS BIGINT) AS bits, brand, codec
        |FROM (VALUES
        |  (1, 'wav', 50, 2, 44100, 16, 'pcm', NULL),
        |  (2, 'wav', 125, 1, 8000, 32, 'ieee_float', NULL),
        |  (3, 'mp4', 5000, NULL, NULL, NULL, 'isom', 'avc1+mp4a'),
        |  (4, 'mp4', 2500, NULL, NULL, NULL, 'mp42', 'mp4a'),
        |  (5, 'mp4', NULL, NULL, NULL, NULL, 'isom', NULL),
        |  (6, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (7, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (8, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (9, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (10, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (11, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (12, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (13, 'wav', 1000, 2, 48000, 24, 'pcm', NULL),
        |  (14, 'mp4', 7500, NULL, NULL, NULL, 'isom', 'avc1'),
        |  (15, 'mp4', 2000, NULL, NULL, NULL, 'isom', 'avc1'),
        |  (16, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (17, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (18, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (19, 'mp4', NULL, NULL, NULL, NULL, 'isom', 'mp4a'),
        |  (20, 'mkv', 12345, 2, 48000, NULL, 'webm', 'V_VP9+A_OPUS'),
        |  (21, 'mkv', 1000, 1, 8000, 24, 'matroska', 'A_PCM/INT/LIT'),
        |  (22, 'mkv', NULL, NULL, NULL, NULL, 'webm', 'V_VP8'),
        |  (23, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (24, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (25, NULL, NULL, NULL, NULL, NULL, NULL, NULL))
        |  AS t(media_id, format, duration_ms, channels, sample_rate,
        |       bits, brand, codec)""".stripMargin),

    // native pdf_meta expression over literal PDF bytes built in-process
    // (the document sibling of q251/q252, r18 VERDICT depth item 6 — the
    // highest-volume crawl document family had no header reader).
    // Well-formed classic-trailer AND cross-reference-stream files parse
    // to (version, pages, encrypted, linearized); incremental updates
    // resolve to the NEWEST object definitions; fields degrade
    // independently (a truncated trailer keeps version+linearized with
    // null pages/encrypted); a truncated header, non-PDF bytes, a
    // header past the 1024-byte window, a reference-valued /Count and a
    // dangling /Root each null exactly what they break, never throw.
    Contract("q258_pdf_meta", ((s, d) => {
      import s.implicits._
      pdfFixture.toDF("pdf_id", "payload")
        .select(col("pdf_id"),
          graft.functions.PdfMeta.column(col("payload")).as("m"))
        .select(col("pdf_id"), col("m.version").as("version"),
          col("m.pages").cast("long").as("pages"),
          col("m.encrypted").as("encrypted"),
          col("m.linearized").as("linearized"))
    }),
      // q258: q251/q252 posture for the PDF fixtures — DuckDB has no PDF
      // parser; the fixture bytes are deterministic and PdfHeaderSpec
      // re-derives every row against the ISO 32000-1 grammar. Rows 7/8/13
      // pin not-a-PDF -> null row; 9/10 pin reference-valued /Count and a
      // dangling /Root nulling ONLY pages; 11/12 pin the truncated trailer
      // / bad startxref keeping version+linearized with null
      // pages+encrypted; 5 pins incremental updates resolving newest;
      // 15/16 (r20) pin the compressed-catalog /ObjStm path: pages resolve
      // through the bounded FlateDecode, and a corrupted deflate body
      // nulls ONLY pages.
      """SELECT CAST(pdf_id AS BIGINT) AS pdf_id, version,
        | CAST(pages AS BIGINT) AS pages,
        | CAST(encrypted AS BOOLEAN) AS encrypted,
        | CAST(linearized AS BOOLEAN) AS linearized
        |FROM (VALUES
        |  (1, '1.4', 5, FALSE, FALSE),
        |  (2, '1.7', 12, FALSE, TRUE),
        |  (3, '1.6', 2, TRUE, FALSE),
        |  (4, '1.5', 7, FALSE, FALSE),
        |  (5, '1.4', 8, FALSE, FALSE),
        |  (6, '1.3', 1, FALSE, FALSE),
        |  (7, NULL, NULL, NULL, NULL),
        |  (8, NULL, NULL, NULL, NULL),
        |  (9, '1.4', NULL, FALSE, FALSE),
        |  (10, '1.4', NULL, FALSE, FALSE),
        |  (11, '1.4', NULL, NULL, FALSE),
        |  (12, '1.5', NULL, NULL, FALSE),
        |  (13, NULL, NULL, NULL, NULL),
        |  (14, '1.6', 4, TRUE, FALSE),
        |  (15, '1.5', 9, FALSE, FALSE),
        |  (16, '1.5', NULL, FALSE, FALSE))
        |  AS t(pdf_id, version, pages, encrypted, linearized)""".stripMargin)
  )
}
