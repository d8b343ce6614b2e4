package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY north star): image/audio/video as
  * opaque `binary` columns with typed metadata, processed per-partition.
  *
  * HEADER decode is REAL since r15: [[graft.functions.ImageMeta]] parses
  * PNG/JPEG/GIF container headers (format, width, height, channels)
  * natively inside whole-stage codegen — dependency-free, null on malformed bytes (see
  * [[graft.functions.ImageHeaderOps]]; q251 pins it under the oracle).
  * That covers what a training-data pipeline filters and routes images by.
  * PIXEL decode (IDAT inflate, DCT) stays stubbed — the container ships no
  * codecs — behind [[FakeDecoder]]'s deterministic pseudo-features, with
  * the batched per-partition iteration shape (the Scala analogue of
  * `mapInPandas`: one decoder instantiation per partition, streamed row
  * batches) kept real so swapping in a JNI/codec-backed decoder changes no
  * plan shape.
  */
object Multimodal {

  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("feature", ArrayType(DoubleType))))

  /** STUB decoder: derives a fake (width, height, 8-dim feature) from the
    * payload LENGTH only — deterministic, and simple enough that the driver's
    * DuckDB oracle can mirror it bit-for-bit (`64 + n mod 97`,
    * `(n·(i+1)) mod 256 / 255`). Replace with a real codec at deploy; no
    * plan shape changes. */
  object FakeDecoder {
    def decode(payload: Array[Byte]): (Int, Int, Array[Double]) = {
      val n = payload.length
      val w = 64 + (n % 97).toInt
      val h = 64 + ((n * 31L) % 97).toInt
      val feat = Array.tabulate(8)(i => ((n * (i + 1L)) % 256).toDouble / 255.0)
      (w, h, feat)
    }
  }

  /** S10 — real binary-file scan: Spark's `binaryFile` source reads each
    * file as one row (path, modificationTime, length, content) — the
    * distributed form of the reference's blob `get_blob_to_stream`
    * (`PGSITE/__init__.py:82-96`). Pair with [[decodeFeatures]]. */
  def readBinaryFiles(spark: org.apache.spark.sql.SparkSession,
      pathGlob: String): DataFrame =
    spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("length"), col("content").as("payload"))

  /** Frame-sampling shape for video-like payloads: split the payload into
    * fixed-size chunks, one row per sampled chunk (every `stride`-th) —
    * the batch geometry a real frame decoder would emit. */
  def sampleChunks(withPayload: DataFrame, chunkBytes: Int, stride: Int): DataFrame =
    withPayload.select(col("doc_id"),
      posexplode(split_part_chunks(col("payload"), chunkBytes)).as(Seq("chunk_idx", "chunk")))
      .filter(col("chunk_idx") % stride === 0)

  private def split_part_chunks(payload: org.apache.spark.sql.Column,
      chunkBytes: Int): org.apache.spark.sql.Column =
    transform(
      sequence(lit(0),
        greatest(floor((length(payload) - lit(1)) / lit(chunkBytes)).cast("int"), lit(0))),
      i => payload.substr(i * lit(chunkBytes) + lit(1), lit(chunkBytes)))

  /** Attach a binary payload column (here synthesized from text — stands in
    * for real image bytes read from a blob store). */
  def withBinaryPayload(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).cast("binary").as("payload"))

  /** Per-partition batched decode → typed metadata + feature vector.
    * One decoder per partition; rows stream through without materializing
    * the partition. */
  def decodeFeatures(withPayload: DataFrame): DataFrame = {
    val spark = withPayload.sparkSession
    val rdd = withPayload.select(col("doc_id"), col("payload")).rdd
      .mapPartitions { it =>
        // decoder init would happen here, once per partition
        it.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          // null payload → null metadata row, matching the SQL mirror's
          // strlen(NULL) semantics — not a mid-job NPE
          if (payload == null) Row(id, null, null, null, null)
          else {
            val (w, h, feat) = FakeDecoder.decode(payload)
            Row(id, payload.length.toLong, w, h, feat.toSeq)
          }
        }
      }
    spark.createDataFrame(rdd, decodedSchema)
  }
}
