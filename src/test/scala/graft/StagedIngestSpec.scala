package graft

import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.StagedIngest
import graft.sources.StagedIngest.{FetchSpec, LocalFileFetcher}

class StagedIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  test("watermark-bounded fetch plan + staged read + relational re-filter") {
    val srcDir = SparkTestBase.tempDir("upstream")
    // upstream over-delivers: includes rows at/before the watermark
    Files.write(srcDir.resolve("AAA.csv"),
      "Symbol,Date,Close\nAAA,2026-01-02,10.0\nAAA,2026-01-03,11.0\nAAA,2026-01-04,12.0\n".getBytes)
    Files.write(srcDir.resolve("BBB.csv"),
      "Symbol,Date,Close\nBBB,2026-01-04,5.0\n".getBytes)

    val wm = Seq(("AAA", "2026-01-02"), ("BBB", "2026-01-03"),
      ("CCC", "2026-01-09")).toDF("entity", "max_date")
    val today = LocalDate.of(2026, 1, 9)

    val plan = StagedIngest.planFetches(wm, today)
    // CCC's watermark is at `today` → from = today+1 → skipped (empty guard)
    assert(plan == Seq(
      FetchSpec("AAA", LocalDate.of(2026, 1, 3), today),
      FetchSpec("BBB", LocalDate.of(2026, 1, 4), today)))

    val fetcher = new LocalFileFetcher(spec => srcDir.resolve(s"${spec.entity}.csv"))
    val staging = SparkTestBase.tempDir("staging").toString
    val out = StagedIngest.ingest(spark, fetcher, plan, staging,
      "Symbol STRING, Date DATE, Close DOUBLE", wm, "Symbol", "Date")

    val got = out.select("Symbol", "Date").as[(String, java.sql.Date)]
      .collect().map { case (s, d) => (s, d.toString) }.toSet
    // over-delivered stale rows are re-filtered relationally
    assert(got == Set(("AAA", "2026-01-03"), ("AAA", "2026-01-04"),
      ("BBB", "2026-01-04")))

    // idempotence: advance watermarks to the new max → second run is empty
    val advanced = graft.operators.Transforms.watermarks(
      out.select(col("Symbol").as("entity"), col("Date").as("d")), "entity", "d")
      .withColumnRenamed("max_date", "ignore")
      .select(col("entity"), col("ignore").cast("date").as("max_date"))
    val plan2 = StagedIngest.planFetches(advanced, LocalDate.of(2026, 1, 4))
    assert(plan2.isEmpty)
  }

  test("date-partitioned layout prunes partitions at scan time") {
    val dir = SparkTestBase.tempDir("parts").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("day") === "2024-01-15")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"expected partition pruning in:\n$plan")
    assert(q.count() > 0)
    // pruned scan reads 1 of ~30 day partitions
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .head.metrics.get("numFiles")
    assert(q.count() == Tables.events(spark, "/root/testdata/sf0.001")
      .filter(to_date(col("ts")) === "2024-01-15").count())
  }
}
