package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Fixtures.{gif, jpeg, png}
import graft.functions.ImageHeaderOps

/** [[graft.functions.ImageMeta]] / [[ImageHeaderOps]]: real PNG/JPEG/GIF
  * header decode (r14 VERDICT missing-item 1). Happy paths plus the
  * malformation matrix — every corrupt input must yield null, never throw
  * (the 100 TB contract: one bad blob = one null row, not a task retry
  * storm). The DataFrame test runs the expression through whole-stage
  * codegen (filter + projection over a real plan); q251 pins the same
  * fixtures under the DuckDB oracle. Inputs come from [[Fixtures]]; the
  * literal expected values are the independent check.
  */
class ImageHeaderSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  private def metaOf(b: Array[Byte]): Option[(String, Int, Int, Int)] =
    Option(ImageHeaderOps.meta(b)).map(r =>
      (r.getUTF8String(0).toString, r.getInt(1), r.getInt(2), r.getInt(3)))

  test("PNG happy paths: every color type maps to its channel count") {
    assert(metaOf(png(640, 480, 6)) === Some(("png", 640, 480, 4)))
    assert(metaOf(png(1, 1, 0)) === Some(("png", 1, 1, 1)))
    assert(metaOf(png(7, 9, 2)) === Some(("png", 7, 9, 3)))
    assert(metaOf(png(12, 34, 3)) === Some(("png", 12, 34, 1)))
    assert(metaOf(png(2, 3, 4)) === Some(("png", 2, 3, 2)))
  }

  test("JPEG happy paths: SOF0/SOF2 markers, 1 and 3 components, and a" +
    " segment walk over leading COM/APP0") {
    assert(metaOf(jpeg(1024, 768, 3)) === Some(("jpeg", 1024, 768, 3)))
    assert(metaOf(jpeg(17, 1, 1)) === Some(("jpeg", 17, 1, 1)))
    assert(metaOf(jpeg(64, 32, 3, sofMarker = 0xc2)) ===
      Some(("jpeg", 64, 32, 3))) // progressive
    val app0 = Array(0xff, 0xe0, 0, 16).map(_.toByte) ++ new Array[Byte](14)
    assert(metaOf(jpeg(5, 6, 3, leadingSegments = Seq(app0))) ===
      Some(("jpeg", 5, 6, 3)))
  }

  test("GIF happy paths: 87a and 89a, little-endian dimensions") {
    assert(metaOf(gif(320, 200)) === Some(("gif", 320, 200, 3)))
    assert(metaOf(gif(1, 65500 & 0x7fff, ver = '7')) ===
      Some(("gif", 1, 65500 & 0x7fff, 3)))
  }

  test("malformed inputs return null, never throw") {
    val cases: Seq[(String, Array[Byte])] = Seq(
      "CRC-flipped IHDR" -> png(640, 480, 6, crcXor = 1),
      "wrong first chunk type" -> png(10, 10, 2, ihdrType = "IDAT"),
      "wrong IHDR length" -> png(10, 10, 2, ihdrLen = 14),
      "invalid PNG color type" -> png(10, 10, 5),
      "zero-width PNG" -> png(0, 10, 2),
      "truncated PNG (sig + half IHDR)" -> png(10, 10, 2).take(20),
      "truncated JPEG mid-SOF" -> jpeg(1024, 768, 3).dropRight(9),
      "JPEG segment length past EOF" ->
        Array(0xff, 0xd8, 0xff, 0xfe, 0x40, 0).map(_.toByte),
      "JPEG marker desync (non-FF)" ->
        Array(0xff, 0xd8, 0x00, 0xc0, 0, 8).map(_.toByte),
      "JPEG SOS before any SOF" ->
        Array(0xff, 0xd8, 0xff, 0xda, 0, 4, 0, 0).map(_.toByte),
      "JPEG EOI with no SOF" -> Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte),
      "bare SOI" -> Array(0xff, 0xd8).map(_.toByte),
      "GIF bad version byte" ->
        ("GIF88a" + "\u0000" * 7).getBytes("US-ASCII"),
      "GIF zero dimensions" -> gif(0, 5),
      "truncated GIF" -> gif(320, 200).take(9),
      "plain text" -> "not an image at all".getBytes("UTF-8"),
      "empty" -> Array.emptyByteArray)
    cases.foreach { case (label, bytes) =>
      assert(metaOf(bytes).isEmpty, label)
    }
    assert(ImageHeaderOps.meta(null) === null)
  }

  test("expression runs inside a real plan (codegen) with null payloads") {
    val rows = Seq(
      (1L, png(640, 480, 6)),
      (2L, jpeg(99, 44, 3)),
      (3L, png(8, 8, 0, crcXor = 1)),
      (4L, null.asInstanceOf[Array[Byte]]))
    val out = rows.toDF("id", "payload")
      .select(col("id"), graft.operators.Multimodal.imageMeta(col("payload")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"),
        col("m.channels"))
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.toString), Option(r.get(2)), Option(r.get(3))))
      .toSeq
    assert(out === Seq(
      (1L, Some("png"), Some(640), Some(480)),
      (2L, Some("jpeg"), Some(99), Some(44)),
      (3L, None, None, None),
      (4L, None, None, None)))
    // dimension filter over mixed blobs — the 100 TB routing shape:
    // stays a codegen'd scan+filter, bad rows drop out as nulls
    val kept = rows.toDF("id", "payload")
      .withColumn("m", graft.operators.Multimodal.imageMeta(col("payload")))
      .filter(col("m.width") >= 100)
      .select("id").as[Long].collect().toSeq
    assert(kept === Seq(1L))
  }

  test("SQL registration via GraftExtensions: image_meta callable from SQL") {
    SparkTestBase.withExtensions { s =>
      val hex = png(3, 4, 2).map(b => f"$b%02x").mkString
      val r = s.sql(
        s"SELECT image_meta(unhex('$hex')) AS m, " +
          "image_meta(unhex('00')) AS bad")
        .selectExpr("m.format", "m.width", "m.height", "m.channels", "bad")
        .collect().head
      assert(r.getString(0) === "png" && r.getInt(1) === 3 &&
        r.getInt(2) === 4 && r.getInt(3) === 3 && r.isNullAt(4))
    }
  }
}
