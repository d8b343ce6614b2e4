package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's package-private Column ↔ Expression conversions
  * (`org.apache.spark.sql.classic.ExpressionUtils`), needed to expose custom
  * Catalyst expressions as user-facing `Column`s in Spark 4.x. */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** The pieces of `spark.read.parquet`'s schema resolution that
    * `graft.Tables.schemaOf` repeats: the nullable relation schema, the
    * hidden-file rule of Spark's file listing, and its two errors
    * (PATH_NOT_FOUND, UNABLE_TO_INFER_SCHEMA). */
  def asNullable(schema: StructType): StructType = schema.asNullable
  def isHiddenFile(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
  def pathNotFound(path: String): Throwable =
    QueryCompilationErrors.dataPathNotExistError(path)
  def unableToInferSchema(format: String): Throwable =
    QueryCompilationErrors.dataSchemaNotSpecifiedError(format)

  /** The session UUID its jobs carry to the executors, or None when they
    * run in the executor's default session. Spark's `ArtifactManager`
    * decides this once per session, lazily, from
    * `spark.sql.artifact.isolation.enabled`; the first call fixes it. */
  def artifactSessionUuid(spark: SparkSession): Option[String] =
    Option(spark.asInstanceOf[classic.SparkSession].artifactManager.state)
      .map(_.uuid)
}
