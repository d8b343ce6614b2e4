package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe for the q257 two-batch eviction oracle (r18 VERDICT item 2):
  * runs [[graft.streaming.StreamingOps.runAvailableNowDateSplitProgress]]
  * over the events corpus with an hourly windowed count under a 37-minute
  * watermark, prints every micro-batch's progress (input rows, watermark,
  * state counts), then prints the candidate ORACLE quantities computed in
  * batch SQL (windows per phase, windows at-or-below each watermark under
  * both <= and < boundary semantics) so the exact eviction predicate can
  * be pinned against the real StreamingQueryProgress numbers.
  *
  * Run: `sbt "Test/runMain graft.tools.EvictionProbe /root/testdata/sf0.01"`.
  */
object EvictionProbe {

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Graft.builder(8)
      .config("spark.sql.shuffle.partitions", "4")
      .appName("eviction-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val (_, progs) = graft.streaming.StreamingOps
      .runAvailableNowDateSplitProgress(spark, s"$d/events.parquet",
        "evprobe") { ev =>
        ev.filter(col("ts").isNotNull)
          .withWatermark("ts", "37 minutes")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("ws"), col("n"))
      }
    progs.sortBy(_.batchId).foreach { p =>
      val so = p.stateOperators.map(s =>
        s"total=${s.numRowsTotal} upd=${s.numRowsUpdated} " +
          s"rem=${s.numRowsRemoved}").mkString("; ")
      println(s"PROBE batch=${p.batchId} in=${p.numInputRows} " +
        s"wm=${p.eventTime.get("watermark")} state[$so]")
    }

    // oracle math, batch-side
    val ev = graft.Tables.events(spark, d).filter(col("ts").isNotNull)
      .select(unix_micros(col("ts")).as("us"))
    val Array(mn, mx) = ev.agg(min(col("us")), max(col("us"))).head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val splitUs = (mn + mx) / 2
    val a = ev.filter(col("us") < splitUs)
    val b = ev.filter(col("us") >= splitUs)
    val maxA = a.agg(max(col("us"))).head().getLong(0)
    def wmUs(maxUs: Long): Long = (maxUs / 1000 - 37L * 60 * 1000) * 1000
    val wm1 = wmUs(maxA)
    val wm2 = wmUs(mx)
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.select((col("us") - (col("us") % (3600L * 1000000))).as("wstart"))
        .distinct()
    val wa = windows(a); val wb = windows(b)
    val wAll = wa.union(wb).distinct()
    def endLe(w: org.apache.spark.sql.DataFrame, t: Long) =
      w.filter(col("wstart") + 3600L * 1000000 <= t).count()
    def endLt(w: org.apache.spark.sql.DataFrame, t: Long) =
      w.filter(col("wstart") + 3600L * 1000000 < t).count()
    println(s"ORACLE split_us=$splitUs maxA=$maxA wm1=$wm1 wm2=$wm2")
    println(s"ORACLE nA=${a.count()} nB=${b.count()} " +
      s"wA=${wa.count()} wB=${wb.count()} wAll=${wAll.count()}")
    println(s"ORACLE rem1_le=${endLe(wAll, wm1)} rem1_lt=${endLt(wAll, wm1)}")
    println(s"ORACLE remAll_le=${endLe(wAll, wm2)} remAll_lt=${endLt(wAll, wm2)}")

    // ---- boundary pin: wm lands EXACTLY on a window end -----------------
    // phase A: one event in [H-1h, H) and one at exactly H + 37 min, so
    // wm after batch 0 is exactly H. If the eviction predicate is
    // window.end <= wm the [H-1h, H) window is removed in batch 1
    // (rem=1); if it is strict <, it survives to the final batch.
    {
      import spark.implicits._
      val H = 1705363200000000L // 2024-01-16 00:00:00 UTC in micros
      val tsA1 = H - 1800L * 1000000 // H - 30 min
      val tsA2 = H + 2220L * 1000000 // H + 37 min exactly
      val tsB = H + 86400L * 1000000 // next day (phase B)
      val tmp = java.nio.file.Files.createTempDirectory("evb").toString
      Seq(tsA1, tsA2, tsB).toDF("us")
        .select(timestamp_micros(col("us")).as("ts"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val (_, ps) = graft.streaming.StreamingOps
        .runAvailableNowDateSplitProgress(spark, s"$tmp/events.parquet",
          "evboundary") { ev =>
          ev.filter(col("ts").isNotNull)
            .withWatermark("ts", "37 minutes")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("n"))
            .select(col("window.start").as("ws"), col("n"))
        }
      ps.sortBy(_.batchId).foreach { p =>
        val so = p.stateOperators.map(s =>
          s"total=${s.numRowsTotal} upd=${s.numRowsUpdated} " +
            s"rem=${s.numRowsRemoved}").mkString("; ")
        println(s"BOUNDARY batch=${p.batchId} in=${p.numInputRows} " +
          s"wm=${p.eventTime.get("watermark")} state[$so]")
      }
    }
    spark.stop()
  }
}
