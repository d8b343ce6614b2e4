package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-regeneration guard: the driver has shipped `events.ts` as parquet
  * TIMESTAMP(NANOS) (Spark: nanos-as-long), TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) (Spark: TIMESTAMP_NTZ), and could ship plain
  * UTC-adjusted TIMESTAMP. Round 8 went red when the encoding flipped
  * NANOS→MICROS-NTZ after close; this spec pins all three so the next
  * regeneration cannot break `Tables.events` or the streaming path silently.
  */
class TimestampEncodingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.session
  import spark.implicits._

  // Known instants (UTC), microsecond granularity like the corpus.
  private val micros = Seq(
    1700000000000000L, 1700000001500000L, 1700003600250000L)

  private def tmp(tag: String): String =
    SparkTestBase.tempDir(s"graft-tsenc-$tag").toString

  /** Write the same logical events rows under each physical encoding the
    * engine must accept, returning the parquet paths. */
  private def writeVariants(): Map[String, String] = {
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")

    val utcPath = tmp("utc")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    base.select($"event_id", timestamp_micros($"us").as("ts"))
      .write.mode("overwrite").parquet(utcPath)

    val ntzPath = tmp("ntz")
    // Session TZ is UTC, so casting UTC instants to NTZ yields the same
    // wall-clock digits the driver's pandas writer produces.
    base.select($"event_id",
        timestamp_micros($"us").cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(ntzPath)

    // TIMESTAMP(NANOS) surfaces in Spark as a nanosecond LongType column
    // (nanosAsLong=true, set in SparkTestBase) — a long column named `ts`
    // is exactly the schema normalizeEventTime sees for that encoding.
    val nanosPath = tmp("nanos")
    base.select($"event_id", ($"us" * 1000L).as("ts"))
      .write.mode("overwrite").parquet(nanosPath)

    Map("utc" -> utcPath, "ntz" -> ntzPath, "nanos" -> nanosPath)
  }

  test("normalizeEventTime yields TIMESTAMP with identical instants for all three encodings") {
    val variants = writeVariants()
    // Sanity: the fixtures really do round-trip as three distinct types.
    assert(spark.read.parquet(variants("utc")).schema("ts").dataType == TimestampType)
    assert(spark.read.parquet(variants("ntz")).schema("ts").dataType == TimestampNTZType)
    assert(spark.read.parquet(variants("nanos")).schema("ts").dataType == LongType)

    val normalized = variants.map { case (tag, path) =>
      val df = Tables.normalizeEventTime(spark.read.parquet(path))
      assert(df.schema("ts").dataType == TimestampType,
        s"$tag should normalize to TIMESTAMP")
      tag -> df.select($"event_id", unix_micros($"ts").as("us"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    }
    assert(normalized("ntz") == normalized("utc"))
    assert(normalized("nanos") == normalized("utc"))
    assert(normalized("utc").map(_._2) == micros)
  }

  test("Tables.schemaOf reads each encoding as Spark's inference does") {
    writeVariants().foreach { case (tag, path) =>
      val inferred = spark.read.parquet(path).schema
      val read = Tables.schemaOf(spark, path)
      assert(read == inferred, tag)
      assert(read.json == inferred.json, s"$tag: metadata differs")
    }
  }

  test("runAvailableNow watermark works on every encoding (NTZ is the strict case)") {
    val variants = writeVariants()
    variants.foreach { case (tag, path) =>
      val out = streaming.StreamingOps.runAvailableNow(
          spark, path, s"tsenc_$tag") { ev =>
        ev.withWatermark("ts", "1 minute")
          .groupBy(window($"ts", "1 hour"))
          .agg(count(lit(1)).as("n"))
      }
      // complete-mode semantics not needed: AvailableNow + append emits only
      // closed windows, so just assert the stream ran and state was typed.
      assert(out.schema("window").dataType.typeName == "struct", tag)
    }
  }

  test("Tables.events normalizes the live corpus whatever its current encoding") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(count(lit(1))).as[Long].head() > 0)
  }
}
