package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingDedup, StreamingOps}

/** Streaming-state growth rehearsal at 10× (dev-only; r12 VERDICT item 6
  * second half / r13 item 7): the unit-scale StreamingSpec proof (10
  * batches × 200 keys hold ≤ 450 state rows) re-run at corpus scale —
  * the [[ScaleRehearsal]] 10× corpus's REAL MinHash signatures (so the
  * key distribution includes genuine duplicate clusters, not synthetic
  * fresh keys) pushed through watermark-bounded streaming dedup as ~50
  * micro-batches of 1 000 docs with event time advancing 10 minutes per
  * batch against a 2-minute watermark.
  *
  * Prints per-batch `numRowsTotal` / `memoryUsedBytes` from the state
  * operator and ASSERTS the flat-line: after warm-up, state must stay
  * within ~2 batches of keys (eviction lags one batch) instead of
  * accreting toward the 50 000-signature union. Numbers land in
  * BASELINE.md ("streaming state rehearsal").
  *
  * Run: `sbt "Test/runMain graft.tools.StreamStateRehearsal"`. */
object StreamStateRehearsal {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: SparkSession = graft.Graft.builder(cpus.toInt)
      // few distinct keys per batch: 32 state-store partitions would pay
      // 32 store open/commits per batch for no parallelism win (q90 note)
      .config("spark.sql.shuffle.partitions", "8")
      .appName("stream-state-rehearsal").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("target/scale_rehearsal_docs.parquet")
    require(new java.io.File(dir).exists(),
      s"rehearsal corpus missing at $dir — run graft.tools.ScaleRehearsal first")
    // --rocksdb: run the same rehearsal under the RocksDB state store —
    // the provider a 1000-executor deployment uses (state off-heap, not
    // bounded by executor memory). Same flat-line assertion must hold.
    if (args.contains("--rocksdb")) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      println("STREAMSTATE provider=RocksDB")
    } else println("STREAMSTATE provider=HDFSBackedStateStore (default)")

    // real per-doc signatures, driver-side once (50k × ~45 B — bounded;
    // this is the batch generator for the stream, not pipeline code)
    val signed = spark.read.parquet(dir)
      .select(col("doc_id").cast("long"),
        StreamingDedup.signature(col("text")).as("sig"))
      .as[(Long, String)].collect().sortBy(_._1)
    val batchSize = 1000
    val batches = signed.grouped(batchSize).toVector
    println(s"STREAMSTATE docs=${signed.length} " +
      s"distinct_sigs=${signed.map(_._2).distinct.length} " +
      s"batches=${batches.length} batch_size=$batchSize")

    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingOps.dedupWithinWatermark(
        in.toDF.toDF("doc_id", "sig", "ts"), "2 minutes", Seq("sig"))
      .writeStream.outputMode("append").format("noop")
      .start()

    val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bytes = scala.collection.mutable.ArrayBuffer.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      // event time hops 10 min/batch; jitter stays inside the watermark
      in.addData(b.map { case (id, sig) =>
        (id, sig, ts(i * 600L + id % 60)) }: _*)
      q.processAllAvailable()
      rows += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      bytes += q.lastProgress.stateOperators.map(_.memoryUsedBytes).sum
    }
    q.stop()

    println("STREAMSTATE per-batch rows: " + rows.mkString(","))
    println(f"STREAMSTATE rows max=${rows.max} " +
      f"tail_max=${rows.drop(2).max} " +
      f"mem_max=${bytes.max / 1e6}%.1f MB")
    // flat-line: ≤ ~2 batches of keys (each batch holds ≤ batchSize
    // distinct signatures; eviction lags one batch behind the watermark)
    val bound = 2L * batchSize + 200L
    require(rows.drop(2).forall(_ <= bound),
      s"state accreted past $bound: ${rows.mkString(",")}")
    println(s"STREAMSTATE PASS state stayed <= $bound rows over " +
      s"${batches.length} batches (union of keys = ${signed.length})")
    spark.stop()
  }
}
