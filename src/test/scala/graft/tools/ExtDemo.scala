package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftExtensions
import graft.operators.Transforms

/** Drives the SparkSessionExtensions surface end-to-end: builds a session
  * with `GraftExtensions`, runs the registered SQL functions, and the
  * salted-aggregation pattern against the corpus. */
object ExtDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Graft.builder(8)
      .appName("graft-ext-demo")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    graft.Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    println("[ext] SQL through registered native functions:")
    spark.sql(
      """SELECT doc_id, simhash64(word_shingles(text, 2)) AS sig,
        |       haversine_m(19.4326, -99.1332, 40.4168, -3.7038) AS cdmx_madrid_m
        |FROM documents ORDER BY doc_id LIMIT 3""".stripMargin)
      .show(truncate = false)

    println("[ext] banded-distance-join rule (no cartesian product):")
    graft.Tables.customer(spark, sfDir)
      .selectExpr("c_custkey",
        "CAST((c_custkey * 37) % 17000 AS DOUBLE) / 100 - 85 AS lat",
        "CAST((c_custkey * 91) % 35000 AS DOUBLE) / 100 - 175 AS lon")
      .createOrReplaceTempView("cpts")
    graft.Tables.supplier(spark, sfDir)
      .selectExpr("s_suppkey",
        "CAST((s_suppkey * 53) % 17000 AS DOUBLE) / 100 - 85 AS slat",
        "CAST((s_suppkey * 71) % 35000 AS DOUBLE) / 100 - 175 AS slon")
      .createOrReplaceTempView("spts")
    val rj = spark.sql(
      """SELECT count(*) AS pairs_within_1000km FROM cpts CROSS JOIN spts
        |WHERE haversine_m(lat, lon, slat, slon) <= 1000000.0""".stripMargin)
    val hasCartesian = rj.queryExecution.executedPlan.toString.contains("CartesianProduct")
    rj.show()
    println(s"[ext] cartesian product in physical plan: $hasCartesian")

    println("[ext] salted aggregation over events (hot-key safe):")
    val ev = graft.Tables.events(spark, sfDir)
    Transforms.saltedAggregate(ev, "event_type", 8,
      partials = Seq(
        ("cnt", c => count(c), lit(1)),
        ("total", c => sum(c), col("value"))),
      merges = Seq(
        ("cnt", c => sum(c)),
        ("total", c => sum(c))))
      .orderBy("event_type").show()
    spark.stop()
  }
}
