package org.apache.spark.sql

/** Spark's package-private session members that specs read. */
object GraftTestBridge {

  /** The session's own UUID (`sessionUUID` is `private[sql]`). */
  def sessionUuid(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID
}
