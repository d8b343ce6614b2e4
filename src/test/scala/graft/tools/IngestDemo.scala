package graft.tools

import java.nio.file.Files
import java.time.LocalDate
import graft.sources.StagedIngest
import graft.sources.StagedIngest.LocalFileFetcher

/** Drives the staged-ingestion adapter end-to-end: watermark → fetch plan →
  * staged landing → schema'd read → relational re-filter. */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.builder(4)
      .appName("graft-ingest-demo").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val srcDir = graft.SparkTestBase.tempDir("upstream")
    Files.write(srcDir.resolve("AAA.csv"),
      "Symbol,Date,Close\nAAA,2026-01-02,10.0\nAAA,2026-01-05,11.0\n".getBytes)
    val wm = Seq(("AAA", "2026-01-02")).toDF("entity", "max_date")
    val plan = StagedIngest.planFetches(wm, LocalDate.of(2026, 1, 9))
    println(s"[ingest] plan: $plan")
    val out = StagedIngest.ingest(spark,
      new LocalFileFetcher(s => srcDir.resolve(s"${s.entity}.csv")),
      plan, graft.SparkTestBase.tempDir("staging").toString,
      "Symbol STRING, Date DATE, Close DOUBLE", wm, "Symbol", "Date")
    println(s"[ingest] rows after watermark re-filter: ${out.collect().mkString("; ")}")

    // checkpointed incremental runs: second invocation picks up only deltas
    import spark.implicits._
    val in = graft.SparkTestBase.tempDir("inc-in").toString
    val ckpt = graft.SparkTestBase.tempDir("inc-ckpt").toString
    val sink = graft.SparkTestBase.tempDir("inc-out").toString
    Seq((1L, 10.0)).toDF("id", "v").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    graft.streaming.StreamingOps.runIncremental(spark, in, schema, ckpt, sink)(identity)
    Seq((2L, 20.0)).toDF("id", "v").coalesce(1).write.mode("append").parquet(in)
    graft.streaming.StreamingOps.runIncremental(spark, in, schema, ckpt, sink)(identity)
    println(s"[ingest] incremental sink after two runs: " +
      spark.read.parquet(sink).orderBy("id").collect().mkString("; "))
    spark.stop()
  }
}
