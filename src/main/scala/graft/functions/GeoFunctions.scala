package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Geospatial distance functions.
  *
  * The reference computes point-to-point distances three different ways:
  * geopy geodesic on the driver (`PGSITE/__init__.py:289`,
  * `HTIPNEXSITE/__init__.py:150` — row-by-row `iterrows`, its biggest perf
  * sin), and SQL Server `geography::Point(...).STDistance` inside a generated
  * top-3-nearest query (`HTIPNEXSITE/__init__.py:106-122`). Those geodesies
  * already disagree with each other by <0.5%, so per SURVEY §7.4 we declare
  * great-circle haversine canonical.
  *
  * Two implementations:
  *  - [[GeoFunctions.haversineMeters]]: composed from built-in codegen'd
  *    expressions (`sin/cos/asin/sqrt/radians`). Fully vectorizable inside
  *    whole-stage codegen; term order mirrors the DuckDB-oracle SQL so results
  *    agree to the last ulp modulo libm differences.
  *  - [[HaversineDistance]]: a native Catalyst `QuaternaryExpression` with
  *    `doGenCode`, which [[graft.GraftExtensions]] registers as the SQL
  *    function `haversine_m` for users writing raw SQL against the engine.
  */
object GeoFunctions {
  val EarthRadiusM: Double = 6371000.0

  /** Great-circle distance in meters between (lat1,lon1) and (lat2,lon2),
    * inputs in degrees. Column-composed; stays in whole-stage codegen. */
  def haversineMeters(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1) / lit(2)
    val dLon = radians(lon2 - lon1) / lit(2)
    val a = sin(dLat) * sin(dLat) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dLon) * sin(dLon)
    lit(2.0 * EarthRadiusM) * asin(sqrt(a))
  }

  /** Scalar form used by the native expression's interpreted path and codegen. */
  def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = Math.toRadians(lat2 - lat1) / 2
    val dLon = Math.toRadians(lon2 - lon1) / 2
    val a = Math.sin(dLat) * Math.sin(dLat) +
      Math.cos(Math.toRadians(lat1)) * Math.cos(Math.toRadians(lat2)) *
        Math.sin(dLon) * Math.sin(dLon)
    2.0 * EarthRadiusM * Math.asin(Math.sqrt(a))
  }
}

/** Native haversine: `haversine_m(lat1, lon1, lat2, lon2)` → meters (double).
  * Codegen emits a single static call, so it participates in whole-stage
  * codegen rather than falling back to interpreted eval. */
case class HaversineDistance(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
  extends QuaternaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "haversine_m"

  override def nullSafeEval(lat1: Any, lon1: Any, lat2: Any, lon2: Any): Any =
    GeoFunctions.haversine(
      lat1.asInstanceOf[Double], lon1.asInstanceOf[Double],
      lat2.asInstanceOf[Double], lon2.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.GeoFunctions.haversine($a, $b, $c, $d)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(newFirst, newSecond, newThird, newFourth)
}
