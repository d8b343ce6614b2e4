package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GeoFunctions

class GeoFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  // Known great-circle distances (city pairs), meters.
  val pairs = Seq(
    // (lat1, lon1, lat2, lon2, expected_m) — CDMX↔Madrid, LHR↔JFK
    (19.4326, -99.1332, 40.4168, -3.7038, 9066000.0),
    (51.4700, -0.4543, 40.6413, -73.7781, 5540000.0))

  test("haversineMeters within 0.5% of known city-pair distances") {
    val df = pairs.toDF("lat1", "lon1", "lat2", "lon2", "exp")
      .withColumn("got", GeoFunctions.haversineMeters(
        col("lat1"), col("lon1"), col("lat2"), col("lon2")))
    df.select("exp", "got").as[(Double, Double)].collect().foreach {
      case (e, g) => assert(math.abs(g - e) / e < 0.005, s"got $g expected ~$e")
    }
  }

  test("native HaversineDistance expression agrees with composed Column form") {
    SparkTestBase.withExtensions { s =>
      import s.implicits._
      val df = pairs.toDF("lat1", "lon1", "lat2", "lon2", "exp")
      val both = df.select(
        GeoFunctions.haversineMeters(col("lat1"), col("lon1"), col("lat2"), col("lon2"))
          .as("composed"),
        expr("haversine_m(lat1, lon1, lat2, lon2)").as("native"))
      both.as[(Double, Double)].collect().foreach { case (c, n) =>
        assert(math.abs(c - n) < 1e-6, s"composed=$c native=$n")
      }
    }
  }

  test("zero distance for identical points") {
    val d = Seq((10.0, 20.0)).toDF("lat", "lon")
      .select(GeoFunctions.haversineMeters(col("lat"), col("lon"),
        col("lat"), col("lon")).as("d")).as[Double].head()
    assert(d == 0.0)
  }
}
