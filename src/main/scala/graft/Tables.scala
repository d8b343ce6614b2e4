package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Parquet table loader for the driver corpus (TESTDATA.md).
  *
  * All queries take an `sfDir` (e.g. `/root/testdata/sf0.01`) and read the
  * TPC-H-ish tables plus `events`, `documents`, `embeddings` from it. Schemas
  * are fixed in the parquet footers and read on the driver ([[schemaOf]]),
  * so building a plan runs no schema-inference job; Catalyst prunes
  * columns and pushes filters into the vectorized parquet scan.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path).schema` gives, read from one
    * parquet footer on the driver. Without a schema, Spark's reader runs a
    * one-task job to read that same footer. This uses Spark's converter
    * under the session's SQL conf, so `nanosAsLong`, TIMESTAMP_NTZ
    * inference and the Spark row-metadata key behave as in Spark's read.
    *
    * `path` is a parquet file or a flat directory of them. For a directory
    * the footer is Spark's choice without `mergeSchema`: a
    * `_common_metadata`, else a `_metadata` summary, else the first data
    * file in path order, hidden `_`/`.` files skipped. Partitioned and
    * `mergeSchema` reads infer on Spark's path, which is their purpose.
    * A missing path and a directory without data files fail with Spark's
    * own PATH_NOT_FOUND and UNABLE_TO_INFER_SCHEMA errors. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val hadoopConf = session.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val qualified = fs.makeQualified(p)
    if (!fs.exists(qualified)) throw GraftBridge.pathNotFound(qualified.toString)
    val root = fs.getFileStatus(qualified)
    val footerFile: FileStatus =
      if (!root.isDirectory) root
      else {
        val files = fs.listStatus(qualified)
          .filterNot(f => GraftBridge.isHiddenFile(f.getPath.getName))
          .sortBy(_.getPath.toString)
        require(files.forall(_.isFile), s"schemaOf($path) reads a file or " +
          "a flat directory; read a partitioned one with spark.read")
        def named(n: String) = files.find(_.getPath.getName == n)
        val summaries = Set("_common_metadata", "_metadata")
        named("_common_metadata").orElse(named("_metadata"))
          .orElse(files.find(f => !summaries(f.getPath.getName)))
          .getOrElse(throw GraftBridge.unableToInferSchema("Parquet"))
      }
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(footerFile, hadoopConf), NO_FILTER)
    GraftBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(footerFile.getPath, footer),
      new ParquetToSparkSchemaConverter(session.sessionState.conf)))
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** Normalize an event-time column to session-TZ `TIMESTAMP`, whatever
    * physical parquet encoding it arrived in. Corpus regenerations have
    * shipped all three, and any pandas/Arrow-written lake will too:
    *   - `TIMESTAMP(NANOS)` → Spark reads it only as a nanosecond long
    *     (`spark.sql.legacy.parquet.nanosAsLong=true`, set by
    *     Verify/Bench/tests); exact `div 1000` to micros — the corpus has
    *     microsecond granularity, so lossless.
    *   - `TIMESTAMP(MICROS, isAdjustedToUTC=false)` → Spark reads
    *     `TIMESTAMP_NTZ`; every entry point pins the session TZ to UTC, so
    *     `cast(TimestampType)` reinterprets the naive micros as UTC exactly —
    *     matching DuckDB's naive-timestamp semantics in the oracle.
    *   - `TIMESTAMP` (UTC-adjusted) → pass-through. */
  def normalizeEventTime(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case LongType =>
        // `div` is SQL integer division — exact on the full long range,
        // unlike Column./ which widens to double and loses ns precision.
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTime(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
