package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.FixedWidthReader
import graft.operators.Multimodal

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  test("FixedWidthReader skips header lines and slices columns") {
    val dir = SparkTestBase.tempDir("fw").toFile
    val f = new java.io.File(dir, "enso.for")
    // ENSO-like: 4 header lines then fixed-width rows (widths 10,5,4)
    val lines = Seq(
      "HEADER ONE", "HEADER TWO", "HEADER 3", "HEADER 4",
      "12JAN2026 23.1  0.2", "19JAN2026 23.4 -0.1")
    Files.write(f.toPath, lines.mkString("\n").getBytes)
    val df = FixedWidthReader.read(spark, f.getAbsolutePath,
      Seq(("WEEK", 10), ("SST", 5), ("SSTA", 4)), skipLines = 4)
    val rows = df.as[(String, String, String)].collect().sortBy(_._1)
    assert(rows.length == 2)
    assert(rows(0) == (("12JAN2026", "23.1", "0.2")))
    assert(rows(1) == (("19JAN2026", "23.4", "-0.1")))
  }

  test("binaryFile source + chunk sampling") {
    val dir = SparkTestBase.tempDir("bin").toFile
    Files.write(new java.io.File(dir, "a.bin").toPath, Array.fill[Byte](10)(1))
    Files.write(new java.io.File(dir, "b.bin").toPath, Array.fill[Byte](3)(2))
    val df = Multimodal.readBinaryFiles(spark, dir.getAbsolutePath)
    assert(df.count() == 2)
    assert(df.filter(col("length") === 10).count() == 1)

    val withPayload = Seq((1L, "abcdefghij")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val chunks = Multimodal.sampleChunks(withPayload, chunkBytes = 3, stride = 2)
    // chunks: idx 0..3 ("abc","def","ghi","j"); stride 2 keeps idx 0, 2
    val got = chunks.select("chunk_idx", "chunk").collect()
      .map(r => (r.getInt(0), new String(r.getAs[Array[Byte]]("chunk")))).toSet
    assert(got == Set((0, "abc"), (2, "ghi")))

    // null payload → null metadata row (the SQL mirror's strlen(NULL)
    // semantics), never a mid-job NPE
    val mixed = Seq((1L, Some("ab")), (2L, None)).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val dec = Multimodal.decodeFeatures(mixed)
      .orderBy("doc_id").collect()
    assert(dec(0).getLong(1) == 2L && !dec(0).isNullAt(2))
    assert(dec(1).isNullAt(1) && dec(1).isNullAt(2) && dec(1).isNullAt(4))
  }

  test("HTML link discovery finds pattern-matched hrefs in order") {
    val html =
      """<a href="/x/report1.pdf">one</a>
        |<tr class="r"><a HREF='/files/wasde0826.xls'>latest</a></tr>
        |<a href="/files/wasde0726.xls">prev</a>""".stripMargin
    val links = graft.sources.HtmlTableReader.discoverLinks(html, "\\.xls$")
    assert(links == Seq("/files/wasde0826.xls", "/files/wasde0726.xls"))
  }

  test("Multimodal decode: deterministic fake features with real plumbing") {
    val docs = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
    val out = Multimodal.decodeFeatures(
      Multimodal.withBinaryPayload(docs, "doc_id", "text"))
    assert(out.schema == Multimodal.decodedSchema)
    val r = out.orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_bytes") == 11L)
    assert(r(0).getAs[Int]("width") == 64 + 11 % 97)
    assert(r(0).getAs[Int]("height") == 64 + (11 * 31) % 97)
    assert(r(0).getAs[Seq[Double]]("feature")(1) == ((11 * 2) % 256).toDouble / 255.0)
    assert(r(1).getAs[Long]("n_bytes") == 0L)
    assert(r(1).getAs[Seq[Double]]("feature").forall(_ == 0.0))
    // determinism: run twice, same result
    val again = Multimodal.decodeFeatures(
      Multimodal.withBinaryPayload(docs, "doc_id", "text")).orderBy("doc_id").collect()
    assert(again.sameElements(r) || again.toSeq.toString == r.toSeq.toString)
  }
}
