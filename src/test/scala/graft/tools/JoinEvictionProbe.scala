package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe for the q260 two-batch stream-stream JOIN eviction oracle
  * (r19 VERDICT item 2): runs q255's view⋈click interval join through
  * [[graft.streaming.StreamingOps.runAvailableNowDateSplitProgress]],
  * prints every micro-batch's progress (input rows, watermark, join
  * state counts), then prints the candidate ORACLE quantities computed
  * in batch SQL under the competing boundary/watermark hypotheses so the
  * exact eviction rule can be pinned against the real
  * StreamingQueryProgress numbers:
  *
  *  - global wm(b) = min over the two watermark nodes of
  *    (max prior event time floor-ms − 2 h) — the "min" watermark policy
  *    across multiple event-time columns;
  *  - left (view) state watermark from the condition
  *    cts ≤ vts + 60 min → a view row is dead once vts + 60 min ≤/< wm;
  *  - right (click) state watermark from cts ≥ vts → a click row is
  *    dead once cts ≤/< wm.
  *
  * Run: `sbt "Test/runMain graft.tools.JoinEvictionProbe /root/testdata/sf0.01"`.
  */
object JoinEvictionProbe {

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Graft.builder(8)
      .config("spark.sql.shuffle.partitions", "4")
      .appName("join-eviction-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val (_, progs) = graft.streaming.StreamingOps
      .runAvailableNowDateSplitProgress(spark, s"$d/events.parquet",
        "jevprobe") { ev =>
        val v = ev.filter(col("event_type") === "view" &&
            col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("event_id").as("v_event_id"),
            col("user_id").as("v_user"), col("ts").as("vts"))
          .withWatermark("vts", "2 hours")
        val c = ev.filter(col("event_type") === "click" &&
            col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("event_id").as("c_event_id"),
            col("user_id").as("c_user"), col("ts").as("cts"))
          .withWatermark("cts", "2 hours")
        v.join(c, col("v_user") === col("c_user") &&
          col("cts") >= col("vts") &&
          col("cts") <= col("vts") + expr("INTERVAL 60 MINUTES"))
          .select(col("v_user").as("user_id"), col("v_event_id"),
            col("c_event_id"))
      }
    progs.sortBy(_.batchId).foreach { p =>
      val so = p.stateOperators.map(s =>
        s"op=${s.operatorName} total=${s.numRowsTotal} " +
          s"upd=${s.numRowsUpdated} rem=${s.numRowsRemoved}")
        .mkString("; ")
      println(s"PROBE batch=${p.batchId} in=${p.numInputRows} " +
        s"wm=${p.eventTime.get("watermark")} state[$so]")
    }

    // oracle math, batch-side
    val evAll = graft.Tables.events(spark, d)
    val us = evAll.select(unix_micros(col("ts")).as("us"))
      .filter(col("us").isNotNull)
    val Array(mn, mx) = us.agg(min(col("us")), max(col("us"))).head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val splitUs = (mn + mx) / 2
    def phase(p: Int) = evAll.filter(
      if (p == 0) col("ts").isNull || unix_micros(col("ts")) < lit(splitUs)
      else unix_micros(col("ts")) >= lit(splitUs))
    def sides(df: org.apache.spark.sql.DataFrame) = {
      val base = df.filter(col("user_id").isNotNull && col("ts").isNotNull)
      (base.filter(col("event_type") === "view"),
        base.filter(col("event_type") === "click"))
    }
    val (va, ca) = sides(phase(0))
    val (vb, cb) = sides(phase(1))
    def maxUs(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(max(unix_micros(col("ts")))).head().getLong(0)
    def wmOf(m: Long): Long = (m / 1000 - 7200000L) * 1000
    val wm1min = wmOf(math.min(maxUs(va), maxUs(ca)))
    val wm1max = wmOf(math.max(maxUs(va), maxUs(ca)))
    val wm2 = wmOf(mx)
    println(s"ORACLE split=$splitUs nVa=${va.count()} nCa=${ca.count()} " +
      s"nVb=${vb.count()} nCb=${cb.count()} " +
      s"rawA=${phase(0).count()} rawB=${phase(1).count()}")
    println(s"ORACLE wm1min=$wm1min wm1max=$wm1max wm2=$wm2")
    // eviction candidates at each hypothesis: views dead when
    // vts + 60min ≤/< wm; clicks dead when cts ≤/< wm
    def deadV(df: org.apache.spark.sql.DataFrame, wm: Long, le: Boolean) =
      df.filter(if (le) unix_micros(col("ts")) + 3600000000L <= wm
        else unix_micros(col("ts")) + 3600000000L < wm).count()
    def deadC(df: org.apache.spark.sql.DataFrame, wm: Long, le: Boolean) =
      df.filter(if (le) unix_micros(col("ts")) <= wm
        else unix_micros(col("ts")) < wm).count()
    for ((nm, wm) <- Seq("wm1min" -> wm1min, "wm1max" -> wm1max)) {
      println(s"ORACLE rem1[$nm] " +
        s"vle=${deadV(va, wm, le = true)} vlt=${deadV(va, wm, le = false)} " +
        s"cle=${deadC(ca, wm, le = true)} clt=${deadC(ca, wm, le = false)}")
    }
    val vAll = va.unionByName(vb); val cAll = ca.unionByName(cb)
    println(s"ORACLE remFinal " +
      s"vle=${deadV(vAll, wm2, le = true)} vlt=${deadV(vAll, wm2, le = false)} " +
      s"cle=${deadC(cAll, wm2, le = true)} clt=${deadC(cAll, wm2, le = false)}")

    // ---- boundary pin: rows landing EXACTLY on each side's state
    // watermark. wm1 = T by construction (both sides' phase-A max = T+2h,
    // ms-aligned so the ms floor is exact). Crafted rows:
    //   views  at T-60m-1ms (dead under < and <=), T-60m (dead only
    //          under vts+60m <= wm), T-60m+1ms (alive under both);
    //   clicks at T-1ms, T (dead only under cts <= wm), T+1ms.
    // Distinct users so no output rows complicate the read.
    {
      import spark.implicits._
      val tUs = 1704067200000000L // 2024-01-01T00:00:00Z, ms-aligned
      val h = 3600000000L; val ms = 1000L
      def r(id: Long, et: String, us: Long) = (id, s"u$id", et, us)
      val rows = Seq(
        r(1, "view", tUs - h - ms), r(2, "view", tUs - h),
        r(3, "view", tUs - h + ms),
        r(4, "click", tUs - ms), r(5, "click", tUs),
        r(6, "click", tUs + ms),
        // 1 µs below the boundary: dead under `< wm`, alive under
        // `<= wm - 1ms` — distinguishes the µs-grain rule the ms-grain
        // rows above cannot
        r(11, "view", tUs - h - 1), r(12, "click", tUs - 1),
        // mid-ms rows decide `expiry <= wm - 1ms` (alive) vs
        // `floor_ms(expiry) < wm` (dead)
        r(13, "view", tUs - h - 500), r(14, "click", tUs - 500),
        // 1 µs above the wm-1ms threshold (alive under <=, dead under
        // a floor-ms comparison)
        r(15, "view", tUs - h - ms + 1), r(16, "click", tUs - ms + 1),
        r(7, "view", tUs + 2 * h), r(8, "click", tUs + 2 * h), // wm clocks
        r(9, "view", tUs + 10 * h), r(10, "click", tUs + 10 * h))
      val dir = java.nio.file.Files.createTempDirectory("jb").toString
      rows.toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))
        .write.mode("overwrite").parquet(s"$dir/ev.parquet")
      val (_, ps) = graft.streaming.StreamingOps
        .runAvailableNowDateSplitProgress(spark, s"$dir/ev.parquet",
          "jbpin") { ev =>
          val v = ev.filter(col("event_type") === "view")
            .select(col("user_id").as("v_user"), col("ts").as("vts"))
            .withWatermark("vts", "2 hours")
          val c = ev.filter(col("event_type") === "click")
            .select(col("user_id").as("c_user"), col("ts").as("cts"))
            .withWatermark("cts", "2 hours")
          v.join(c, col("v_user") === col("c_user") &&
            col("cts") >= col("vts") &&
            col("cts") <= col("vts") + expr("INTERVAL 60 MINUTES"))
            .select(col("v_user"))
        }
      ps.sortBy(_.batchId).foreach { p =>
        val so = p.stateOperators.map(s =>
          s"total=${s.numRowsTotal} upd=${s.numRowsUpdated} " +
            s"rem=${s.numRowsRemoved}").mkString("; ")
        println(s"PIN batch=${p.batchId} in=${p.numInputRows} " +
          s"wm=${p.eventTime.get("watermark")} state[$so]")
      }
      println("PIN expect batch1 rem: 2 if both strict <, 4 if both <=, " +
        "3 if mixed (views <= clicks < -> view_eq dead only = 3 with " +
        "view_lt+view_eq+click_lt; clicks <= views < -> 3 likewise)")
    }
    spark.stop()
  }
}
