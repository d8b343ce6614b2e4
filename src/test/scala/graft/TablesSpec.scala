package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.schemaOf` reads the schema Spark's own inference would give
  * from one footer on the driver; these pin that it is the same schema,
  * field metadata included, and that it fails as Spark's read fails. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.session

  /** StructType equality plus every field's metadata, recursively. */
  private def assertSame(path: String): StructType = {
    val inferred = spark.read.parquet(path).schema
    val read = Tables.schemaOf(spark, path)
    assert(read == inferred, path)
    assert(read.json == inferred.json, s"$path: metadata differs")
    read
  }

  test("schemaOf equals Spark's inferred schema for every corpus table") {
    for (sf <- Seq("sf0.001", "sf0.01"); t <- CorpusCheck.tableNames) {
      val path = s"perfbench/corpus/$sf/$t.parquet"
      assert(new java.io.File(path).isFile, path)
      assertSame(path)
      // the table a query reads carries that schema too
      assert(Tables.table(spark, s"perfbench/corpus/$sf", t).schema ==
        spark.read.parquet(path).schema)
    }
  }

  test("schemaOf equals Spark's schema for a directory of Spark-written parts, " +
      "metadata and non-nullable fields included") {
    val dir = SparkTestBase.tempDir("schema-of").toString
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "row key").build()
    spark.range(0, 100, 1, 5)
      .select(col("id").as("k", md), (col("id") * 2).as("v"),
        struct(col("id").as("a"), lit("x").as("b")).as("s"),
        array(col("id")).as("arr"))
      .write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles().map(_.getName)
    assert(parts.count(_.endsWith(".parquet")) == 5)
    assert(parts.exists(_.startsWith("_")) && parts.exists(_.startsWith(".")))
    val read = assertSame(dir)
    assert(read("k").metadata.getString("comment") == "row key")
    assert(read.forall(_.nullable))
  }

  test("schemaOf fails like spark.read: PATH_NOT_FOUND, UNABLE_TO_INFER_SCHEMA; " +
      "it refuses a partitioned layout") {
    val missing = SparkTestBase.tempDir("schema-of-missing")
      .resolve("nope.parquet").toString
    def condition(f: => Any): String =
      intercept[AnalysisException](f).getCondition
    assert(condition(spark.read.parquet(missing)) == "PATH_NOT_FOUND")
    assert(condition(Tables.schemaOf(spark, missing)) == "PATH_NOT_FOUND")
    // a directory holding only hidden files: nothing to read a footer from
    val empty = SparkTestBase.tempDir("schema-of-empty")
    java.nio.file.Files.writeString(empty.resolve("_SUCCESS"), "")
    java.nio.file.Files.writeString(empty.resolve(".part.crc"), "")
    assert(condition(spark.read.parquet(empty.toString)) ==
      "UNABLE_TO_INFER_SCHEMA")
    assert(condition(Tables.schemaOf(spark, empty.toString)) ==
      "UNABLE_TO_INFER_SCHEMA")
    // partition discovery is Spark's to do: a partitioned layout is refused
    val parted = SparkTestBase.tempDir("schema-of-parted")
    spark.range(4).withColumn("b", col("id") % 2)
      .write.mode("overwrite").partitionBy("b").parquet(parted.toString)
    intercept[IllegalArgumentException](Tables.schemaOf(spark, parted.toString))
  }
}
