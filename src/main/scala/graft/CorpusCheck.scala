package graft

import org.apache.spark.sql.SparkSession

/** Environment-drift guard (round-8 lesson): the driver regenerated
  * `/root/testdata` between the builder's close and the gating run, flipping
  * `events.ts` from TIMESTAMP(NANOS) to TIMESTAMP(MICROS,NTZ) and silently
  * invalidating the round's "green" claims. Every Verify/Bench run now stamps
  * a content fingerprint of each input table into its artifacts, so a corpus
  * change is self-evident in the record instead of reconstructed forensically.
  *
  * Per table: [[graft.operators.Maintenance.tableFingerprint]] over ALL
  * columns of the RAW table (pre-normalization — an encoding flip must change
  * the fingerprint) plus an md5 of the Spark-visible schema (catches a type
  * change even when the casted string forms coincide). The compare is
  * Spark-to-Spark across rounds, so double formatting is deterministic here
  * (the cross-engine caveat on tableFingerprint doesn't apply).
  */
object CorpusCheck {
  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** (tableName, json-object-fragment) per table present in `sfDir`. */
  def fingerprints(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    tableNames.flatMap { t =>
      val path = s"$sfDir/$t.parquet"
      if (!new java.io.File(path).exists()) None
      else {
        val df = Tables.table(spark, sfDir, t)
        val r = operators.Maintenance
          .tableFingerprint(df, df.columns.toSeq).head()
        val schemaHash = md5Hex(df.schema.catalogString)
        Some(t -> (s"""{"rows":${r.getLong(0)},"lane_a":${r.getLong(1)},""" +
          s""""lane_b":${r.getLong(2)},"schema_md5":"$schemaHash"}"""))
      }
    }

  /** Full per-table JSON object plus a single combined hash small enough to
    * ride in a size-capped stdout line. */
  def stamp(spark: SparkSession, sfDir: String): (String, String) = {
    val fps = fingerprints(spark, sfDir)
    val full = fps.map { case (t, j) => s""""$t":$j""" }
      .mkString("{", ",", "}")
    (full, md5Hex(full))
  }
}
