package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Transforms

/** NOAA ENSO weekly SST ingestion (`HTGPIENSO/__init__.py:74-88`).
  *
  * Reference pattern: `pd.read_fwf(widths=[10,5,4,4,...], skiprows=4)` → drop
  * `DEL` filler columns → derive DAY/MONTH/YEAR from the `WEEK` token
  * (`12JAN2026`) via a month-name dict → concat DATE → optional year filter →
  * stamp `actualizacion` → CSV out.
  *
  * Spark shape: distributed fixed-width scan (graft.sources.FixedWidthReader)
  * → codegen'd substring/map projections. The month dict becomes a
  * `typedLit(Map)` lookup that stays inside whole-stage codegen (J2).
  */
object EnsoPipeline {

  /** Fixed-width layout: WEEK + (SST, SSTA, DEL) per Niño region; DEL
    * columns are scrap (`HTGPIENSO/__init__.py:77,80`). */
  val layout: Seq[(String, Int)] = Seq(
    "WEEK" -> 10,
    "SST_NINO12" -> 5, "SSTA_NINO12" -> 4, "DEL1" -> 4,
    "SST_NINO3" -> 5, "SSTA_NINO3" -> 4, "DEL2" -> 4,
    "SST_NINO34" -> 5, "SSTA_NINO34" -> 4, "DEL3" -> 4,
    "SST_NINO4" -> 5, "SSTA_NINO4" -> 4, "DEL4" -> 4)

  val monthMap: Map[String, String] = Map(
    "JAN" -> "01", "FEB" -> "02", "MAR" -> "03", "APR" -> "04",
    "MAY" -> "05", "JUN" -> "06", "JUL" -> "07", "AUG" -> "08",
    "SEP" -> "09", "OCT" -> "10", "NOV" -> "11", "DEC" -> "12")

  /** Transform parsed fixed-width rows into the output schema.
    * (`HTGPIENSO/__init__.py:80-88`: drop DEL, derive date parts, stamp.) */
  def transform(parsed: DataFrame): DataFrame = {
    val mm = typedLit(monthMap)
    parsed
      .drop("DEL1", "DEL2", "DEL3", "DEL4")
      .withColumn("DAY", substring(col("WEEK"), 1, 2))
      .withColumn("MONTH", element_at(mm, substring(col("WEEK"), 3, 3)))
      .withColumn("YEAR", substring(col("WEEK"), 6, 4))
      .withColumn("DATE", concat_ws("-", col("YEAR"), col("MONTH"), col("DAY")))
      .transform(Transforms.stampActualizacion(_))
  }
}
