package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session

  val sfDir = "/root/testdata/sf0.001"

  test("AvailableNow streaming windowed agg matches batch result") {
    // the same watermarked tumbling-window aggregate on both inputs
    def windowedAgg(events: org.apache.spark.sql.DataFrame) =
      events.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total"))
    val streamed = StreamingOps.runAvailableNow(spark,
      s"$sfDir/events.parquet", "stream_agg", outputMode = "complete")(
      windowedAgg)

    val batch = windowedAgg(Tables.events(spark, sfDir))

    val s = streamed.orderBy("window_start", "event_type").collect().toSeq
    val b = batch.orderBy("window_start", "event_type").collect().toSeq
    assert(s.size == b.size && s.size > 0)
    assert(s.toString == b.toString)
  }

  test("state-store metrics: dedup state = one row per distinct signature, " +
    "join state = per-side inserts, impl metrics in the sidecar") {
    // the q255 shape at sf0.001 — the deterministic first-data-batch
    // core (now ORACLE-checked at the gate) re-derived here against the
    // batch engine, and the sidecar checked for the impl-dependent
    // metrics the core deliberately excludes (r17 VERDICT items 1+7)
    val m = SparkEntry.queries("q255_stream_state_metrics")(spark, sfDir)
      .collect()
    val byStream = m.groupBy(_.getString(0))
    assert(byStream.keySet == Set("dedup", "join"), byStream.keySet)
    assert(m.length == 2, m.toSeq.toString) // one stateful op per stream
    // dedup: first-batch state rows == distinct signatures of non-empty
    // docs (one long per signature — the Scaladoc claim, now a number)
    val ded = byStream("dedup").head
    val distinctSigs = Tables.documents(spark, sfDir)
      .filter(length(trim(col("text"))) > 0)
      .select(graft.streaming.StreamingDedup.signature(col("text")).as("s"))
      .filter(col("s").isNotNull).distinct().count()
    assert(ded.getLong(2) == distinctSigs,
      s"dedup rows_total ${ded.getLong(2)} != $distinctSigs")
    assert(ded.getLong(3) == distinctSigs && ded.getLong(4) == 0L, ded.toString)
    // join: every non-null-key/time view+click row is inserted into its
    // side's store in the single data batch; nothing evicts at watermark 0
    val jn = byStream("join").head
    val ev = Tables.events(spark, sfDir)
    val inserts = ev.filter(col("event_type").isin("view", "click") &&
      col("user_id").isNotNull && col("ts").isNotNull).count()
    assert(jn.getLong(2) == inserts,
      s"join rows_total ${jn.getLong(2)} != $inserts")
    assert(jn.getLong(3) == inserts && jn.getLong(4) == 0L, jn.toString)
    // sidecar: mem_bytes, the 4-partition store trim, and the run's
    // rate/timing numbers live here — rewritten by the run above
    val sidecar = java.nio.file.Files.readString(
      java.nio.file.Paths.get("target/q255_state_sidecar.json"))
    assert(sidecar.contains("\"stream\":\"dedup\"") &&
      sidecar.contains("\"stream\":\"join\""), sidecar.take(200))
    assert("\"mem_bytes\":(\\d+)".r.findAllMatchIn(sidecar)
      .forall(_.group(1).toLong > 0), "mem_bytes must be recorded")
    assert(sidecar.contains("\"n_store_partitions\":4"), sidecar.take(400))
    assert(sidecar.contains("\"batch_duration_ms\":") &&
      sidecar.contains("\"input_rows_per_sec\":"), sidecar.take(400))
  }

  test("two-batch eviction (q257 core): watermark advances between " +
    "phases and the eviction boundary is window.end <= wm, exactly") {
    import spark.implicits._
    // phase A: one event in [H-1h, H) and one at exactly H + 37 min, so
    // the watermark after batch 0 is EXACTLY H — the [H-1h, H) window's
    // end. If the store's eviction predicate is `window.end <= wm` the
    // window is removed in batch 1; strict `<` would keep it until the
    // trailing no-data batch. The q257 DuckDB oracle encodes <=, so this
    // exact-boundary pin is what licenses it.
    val H = 1705363200000000L // 2024-01-16 00:00:00 UTC, micros
    val tmp = SparkTestBase.tempDir("evb").toString
    Seq(H - 1800L * 1000000, // [H-1h, H) window
      H + 2220L * 1000000, // H + 37 min exactly -> wm1 = H
      H + 86400L * 1000000 // next day -> phase B
    ).toDF("us").select(timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val (_, ps) = StreamingOps.runAvailableNowDateSplitProgress(
      spark, s"$tmp/events.parquet", "evict_boundary") { ev =>
      ev.filter(col("ts").isNotNull)
        .withWatermark("ts", "37 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
    }
    val rows = ps.sortBy(_.batchId).flatMap(p =>
      p.stateOperators.headOption.map(so =>
        (p.numInputRows, so.numRowsTotal, so.numRowsUpdated,
          so.numRowsRemoved)))
    // batch 0: both A windows in state, nothing evicted at wm 0;
    // batch 1: wm == H, the boundary window IS evicted (<= semantics);
    // batch 2 (trailing no-data): wm = B max - 37 min evicts [H, H+1h)
    assert(rows == Seq((2L, 2L, 2L, 0L), (1L, 2L, 1L, 1L),
      (0L, 1L, 0L, 1L)), rows)
  }

  test("q257 shape at sf0.001: per-batch state counts equal the batch " +
    "oracle math (midpoint split, hourly windows, 37-min watermark)") {
    val out = SparkEntry.queries("q257_stream_state_eviction")(spark, sfDir)
      .orderBy("batch_seq").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // oracle math re-derived on the batch engine (same as the DuckDB SQL)
    val us = Tables.events(spark, sfDir).filter(col("ts").isNotNull)
      .select(unix_micros(col("ts")).as("us"))
    val bounds = us.agg(min(col("us")), max(col("us"))).head()
    val split = (bounds.getLong(0) + bounds.getLong(1)) / 2
    def wmUs(maxUs: Long) = (maxUs / 1000 - 37L * 60 * 1000) * 1000
    val a = us.filter(col("us") < split); val b = us.filter(col("us") >= split)
    val wm1 = wmUs(a.agg(max(col("us"))).head().getLong(0))
    val wm2 = wmUs(bounds.getLong(1))
    def w(df: org.apache.spark.sql.DataFrame) =
      df.select((col("us") - col("us") % (3600L * 1000000)).as("w")).distinct()
    val wAll = w(a).union(w(b)).distinct()
    def remAt(t: Long) = wAll.filter(col("w") + 3600L * 1000000 <= t).count()
    val (nA, nB) = (a.count(), b.count())
    val (wA, wB, nAll) = (w(a).count(), w(b).count(), wAll.count())
    val (rem1, remC) = (remAt(wm1), remAt(wm2))
    assert(rem1 > 0, "the split must make batch-1 eviction nonzero")
    assert(out == Seq(
      (0L, nA, wA, wA, 0L),
      (1L, nB, nAll - rem1, wB, rem1),
      (2L, 0L, nAll - remC, 0L, remC - rem1)), out)
  }

  test("two-batch join eviction (q260 core): per-side state watermarks " +
    "with the µs-exact wm - 1ms boundary, pinned against three " +
    "competing hypotheses") {
    import spark.implicits._
    // Crafted corpus: both sides' phase-A max = T + 2h (ms-aligned), so
    // wm after batch 0 is EXACTLY T. The join condition
    // cts ∈ [vts, vts + 60m] gives per-side death rules:
    //   view dead once vts + 60m can no longer reach a future cts,
    //   click dead once cts can no longer reach a future vts.
    // Exact form (the q260 oracle's rule): dead iff
    // expiry ≤ wm − 1 ms at MICROsecond precision, where expiry is
    // vts + 60m (views) / cts (clicks). The rows below kill the three
    // competing hypotheses at once:
    //   - at wm (ids 2, 5): alive -> not `≤ wm`;
    //   - at wm − 1 µs (ids 11, 12): alive -> not strict `< wm`;
    //   - at wm − 500 µs / wm − 1ms + 1µs (ids 13..16): alive -> not
    //     floor-ms comparison;
    //   - at wm − 1 ms exactly (ids 1, 4): DEAD -> `≤ wm − 1 ms`.
    val T = 1704067200000000L // 2024-01-01T00:00:00Z, micros, ms-aligned
    val h = 3600000000L; val ms = 1000L
    val rows = Seq(
      (1L, "view", T - h - ms), (2L, "view", T - h),
      (3L, "view", T - h + ms),
      (4L, "click", T - ms), (5L, "click", T),
      (6L, "click", T + ms),
      (11L, "view", T - h - 1), (12L, "click", T - 1),
      (13L, "view", T - h - 500), (14L, "click", T - 500),
      (15L, "view", T - h - ms + 1), (16L, "click", T - ms + 1),
      (7L, "view", T + 2 * h), (8L, "click", T + 2 * h), // wm clocks
      (9L, "view", T + 10 * h), (10L, "click", T + 10 * h)) // phase B
    val tmp = SparkTestBase.tempDir("jevb").toString
    rows.toDF("event_id", "event_type", "us")
      .select(col("event_id"), concat(lit("u"), col("event_id"))
          .as("user_id"),
        col("event_type"), timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val (_, ps) = StreamingOps.runAvailableNowDateSplitProgress(
      spark, s"$tmp/events.parquet", "join_evict_boundary") { ev =>
      val v = ev.filter(col("event_type") === "view" &&
          col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id").as("v_user"), col("ts").as("vts"))
        .withWatermark("vts", "2 hours")
      val c = ev.filter(col("event_type") === "click" &&
          col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id").as("c_user"), col("ts").as("cts"))
        .withWatermark("cts", "2 hours")
      v.join(c, col("v_user") === col("c_user") &&
        col("cts") >= col("vts") &&
        col("cts") <= col("vts") + expr("INTERVAL 60 MINUTES"))
        .select(col("v_user"))
    }
    val got = ps.sortBy(_.batchId).flatMap(p =>
      p.stateOperators.headOption.map(so =>
        (p.numInputRows, so.numRowsTotal, so.numRowsUpdated,
          so.numRowsRemoved)))
    // batch 0: 14 phase-A rows buffered, input counted once per join
    // branch (2 × 14), nothing evicted at wm 0;
    // batch 1: wm == T, ONLY ids 1 and 4 (expiry == T − 1 ms) die;
    // batch 2 (trailing no-data): wm = T + 8h kills everything but the
    // two T + 10h rows.
    assert(got == Seq((28L, 14L, 14L, 0L), (4L, 14L, 2L, 2L),
      (0L, 2L, 0L, 12L)), got)
  }

  test("q260 shape at sf0.001: per-batch join state counts equal the " +
    "batch oracle math (midpoint split, min-of-sides watermark, " +
    "wm - 1ms thresholds)") {
    val out = SparkEntry.queries("q260_stream_join_eviction")(spark, sfDir)
      .orderBy("batch_seq").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // oracle math re-derived on the batch engine (same as the DuckDB SQL)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("us"))
    val bounds = ev.filter(col("us").isNotNull)
      .agg(min(col("us")), max(col("us"))).head()
    val split = (bounds.getLong(0) + bounds.getLong(1)) / 2
    def side(phaseA: Boolean, et: String) = ev
      .filter(if (phaseA) col("us").isNull || col("us") < split
        else col("us") >= split)
      .filter(col("event_type") === et && col("user_id").isNotNull &&
        col("us").isNotNull)
    val (va, ca, vb, cb) = (side(true, "view"), side(true, "click"),
      side(false, "view"), side(false, "click"))
    def mxOf(df: org.apache.spark.sql.DataFrame) =
      df.agg(max(col("us"))).head().getLong(0)
    def thr(m: Long) = (m / 1000 - 7200000L) * 1000 - 1000
    val thr1 = thr(math.min(mxOf(va), mxOf(ca)))
    val thr2 = thr(math.min(math.max(mxOf(va), mxOf(vb)),
      math.max(mxOf(ca), mxOf(cb))))
    def deadV(df: org.apache.spark.sql.DataFrame, t: Long) =
      df.filter(col("us") + 3600000000L <= t).count()
    def deadC(df: org.apache.spark.sql.DataFrame, t: Long) =
      df.filter(col("us") <= t).count()
    val rem1 = deadV(va, thr1) + deadC(ca, thr1)
    val remF = deadV(va.unionByName(vb), thr2) +
      deadC(ca.unionByName(cb), thr2)
    val (nva, nca, nvb, ncb) = (va.count(), ca.count(), vb.count(),
      cb.count())
    val rawA = ev.filter(col("us").isNull || col("us") < split).count()
    val rawB = ev.filter(col("us") >= split).count()
    assert(rem1 > 0, "the split must make batch-1 join eviction nonzero")
    assert(out == Seq(
      (0L, 2 * rawA, nva + nca, nva + nca, 0L),
      (1L, 2 * rawB, nva + nca + nvb + ncb - rem1, nvb + ncb, rem1),
      (2L, 0L, nva + nca + nvb + ncb - remF, 0L, remF - rem1)), out)
  }

  test("firstBatchStateCounts refuses a partial first batch (the " +
    "single-batch assumption must fail loudly, not mismatch the oracle)") {
    // real multi-batch progress from the date-split runner: the first
    // data batch holds only phase A, so the q255-style helper must throw
    val (_, ps) = StreamingOps.runAvailableNowDateSplitProgress(
      spark, s"$sfDir/events.parquet", "partial_first") { ev =>
      ev.filter(col("ts").isNotNull)
        .withWatermark("ts", "37 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
    }
    val e = intercept[IllegalArgumentException] {
      StreamingOps.firstBatchStateCounts(spark, Seq("x" -> ps)).collect()
    }
    assert(e.getMessage.contains("single-batch"), e.getMessage)
  }

  test("checkpointed incremental runs process only new files") {
    import java.nio.file.Files
    val in = SparkTestBase.tempDir("inc-in").toString
    val ckpt = SparkTestBase.tempDir("inc-ckpt").toString
    val out = SparkTestBase.tempDir("inc-out").toString
    import spark.implicits._

    val batch1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    batch1.coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    StreamingOps.runIncremental(spark, in, schema, ckpt, out)(
      df => df.withColumn("doubled", col("v") * 2))
    assert(spark.read.parquet(out).count() == 2)

    // second run with NO new input → no new rows
    StreamingOps.runIncremental(spark, in, schema, ckpt, out)(
      df => df.withColumn("doubled", col("v") * 2))
    assert(spark.read.parquet(out).count() == 2)

    // land a new file → only the delta is processed
    Seq((3L, 30.0)).toDF("id", "v").coalesce(1).write.mode("append").parquet(in)
    StreamingOps.runIncremental(spark, in, schema, ckpt, out)(
      df => df.withColumn("doubled", col("v") * 2))
    val rows = spark.read.parquet(out).orderBy("id")
      .as[(Long, Double, Double)].collect().toSeq
    assert(rows == Seq((1L, 10.0, 20.0), (2L, 20.0, 40.0), (3L, 30.0, 60.0)))
  }

  test("flagship entry returns rows (driver t1 smoke shape)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("streaming dedup within watermark drops exact repeats") {
    val dedup = StreamingOps.runAvailableNow(spark,
      s"$sfDir/events.parquet", "stream_dedup")(
      df => df.select(col("ts"), col("event_id")).unionAll(
          df.select(col("ts"), col("event_id"))) // duplicate the feed
        .withWatermark("ts", "1 hour").dropDuplicates("event_id", "ts"))
    val n = dedup.count()
    val expected = Tables.events(spark, sfDir).count()
    assert(n == expected, s"got $n expected $expected")
  }

  test("streaming minhash dedup flags dups across micro-batches, batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val docA = "the quick brown fox jumps over the lazy dog again and again"
    val docB = "an entirely different document about spark execution engines"
    val docC = "numbers one two three four five six seven eight nine ten here"
    // batch1: A(1), B(2); batch2: A-dup(3), C(4), C-dup(5)
    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.dedupStream(in.toDF.toDF("doc_id", "text"),
        "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("sdedup").start()
    in.addData((1L, docA), (2L, docB))
    q.processAllAvailable()
    in.addData((3L, docA), (4L, docC), (5L, docC))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sdedup")
      .as[StreamingDedup.DedupVerdict].collect()
      .map(v => v.doc_id -> ((v.keeper, v.is_dup))).toMap
    assert(got(1L) == ((1L, false)))
    assert(got(2L) == ((2L, false)))
    assert(got(3L) == ((1L, true)))   // cross-batch dup of doc 1
    assert(got(4L) == ((4L, false)))
    assert(got(5L) == ((4L, true)))   // within-batch dup, min id keeps

    // batch parity: same call on a plain DataFrame
    val batch = StreamingDedup.dedupStream(
      Seq((1L, docA), (2L, docB), (3L, docA), (4L, docC), (5L, docC))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(v => v.doc_id -> ((v.keeper, v.is_dup))).toMap
    assert(batch == got)
  }

  test("streaming dedup: contentless docs emit no verdict instead of " +
      "collapsing into one md5-of-empty bucket") {
    import graft.streaming.StreamingDedup
    import spark.implicits._
    // r14 review: concat_ws resurrected the lanes' NULL to "", so every
    // empty doc was flagged a dup of the first one. Batch mode exercises
    // the same code path (flatMapGroupsWithState with empty state).
    val d = Seq((1L, "the quick brown fox jumps over it"),
      (2L, ""), (3L, "   "), (4L, "the quick brown fox jumps over it"))
      .toDF("doc_id", "text")
    val got = StreamingDedup.dedupStream(d, "doc_id", "text")
      .collect().map(v => v.doc_id -> ((v.keeper, v.is_dup))).toMap
    assert(got == Map(1L -> ((1L, false)), 4L -> ((1L, true))), got)
  }

  test("stream-stream interval join with watermarks matches batch result") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)

    val evs = (1 to 40).map(i => (i.toLong, ts(i * 30L), i % 3L))
    val purch = (1 to 6).map(i => (100L + i, ts(i * 200L), i % 3L))

    def joined(l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      // equi-key (user) + event-time range — the supported stream-stream
      // join shape; watermarks bound both sides' state
      val lw = l.toDF("event_id", "ets", "user").withWatermark("ets", "10 minutes")
      val rw = r.toDF("p_id", "pts", "p_user").withWatermark("pts", "10 minutes")
      lw.join(rw, expr(
        """user = p_user AND ets >= pts AND ets < pts + INTERVAL 5 MINUTES"""))
        .select(col("event_id"), col("p_id"))
    }

    val inL = MemoryStream[(Long, Timestamp, Long)]
    val inR = MemoryStream[(Long, Timestamp, Long)]
    val q = joined(inL.toDF, inR.toDF)
      .writeStream.outputMode("append").format("memory")
      .queryName("ssjoin").start()
    inL.addData(evs.take(20): _*); inR.addData(purch.take(3): _*)
    q.processAllAvailable()
    inL.addData(evs.drop(20): _*); inR.addData(purch.drop(3): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ssjoin").as[(Long, Long)].collect().toSet
    val batch = joined(evs.toDF("event_id", "ets", "user"),
        purch.toDF("p_id", "pts", "p_user"))
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming OHLC (min_by/max_by state fold) equals the batch resample") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("q191_streaming_ohlc")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7))).toSet
    val batch = graft.operators.Transforms.ohlcBars(
        graft.Tables.events(spark, sfDir), "event_type", "ts", "event_id",
        "value")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("watermark bounds state: dedup + stream-stream join evict, never accrete") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)

    // --- dedup state (q96 shape): 10 batches × 200 fresh keys, event time
    // advancing 10 minutes per batch against a 2-minute watermark. The
    // state store must hold roughly ONE batch's keys at any time — if the
    // watermark failed to evict, it would accrete to the 2000-key union
    // and an unbounded stream would OOM the store.
    val in = MemoryStream[(Long, Timestamp)]
    val q = in.toDF.toDF("id", "ts")
      .withWatermark("ts", "2 minutes").dropDuplicates("id", "ts")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_state_bound").start()
    val dedupState = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until 10).foreach { b =>
      in.addData((0 until 200).map(k =>
        ((b * 200 + k).toLong, ts(b * 600L + k % 60))): _*)
      q.processAllAvailable()
      dedupState += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }
    q.stop()
    // every batch's keys are fresh → 2000 distinct keys seen; flat state
    assert(spark.table("dedup_state_bound").count() == 2000L)
    // steady state: bounded by ~one batch of keys (+1 batch of eviction
    // lag — rows leave in the batch AFTER the watermark passes them)
    assert(dedupState.drop(2).forall(_ <= 450L),
      s"dedup state grew: ${dedupState.mkString(",")}")

    // --- stream-stream inner join state (q148 shape): both sides
    // watermarked 2 minutes, 1-minute join interval, same 10-minute
    // time hops — both sides' buffered rows must be evicted
    val inL = MemoryStream[(Long, Timestamp, Long)]
    val inR = MemoryStream[(Long, Timestamp, Long)]
    val lw = inL.toDF.toDF("event_id", "ets", "user")
      .withWatermark("ets", "2 minutes")
    val rw = inR.toDF.toDF("p_id", "pts", "p_user")
      .withWatermark("pts", "2 minutes")
    val qj = lw.join(rw, expr(
        "user = p_user AND ets >= pts AND ets < pts + INTERVAL 1 MINUTE"))
      .select(col("event_id"), col("p_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("join_state_bound").start()
    val joinState = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until 10).foreach { b =>
      val t0 = b * 600L
      inL.addData((0 until 100).map(k =>
        ((b * 100 + k).toLong, ts(t0 + k % 50), (k % 7).toLong)): _*)
      inR.addData((0 until 20).map(k =>
        ((10000 + b * 20 + k).toLong, ts(t0 + k % 50), (k % 7).toLong)): _*)
      qj.processAllAvailable()
      joinState += qj.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }
    qj.stop()
    assert(spark.table("join_state_bound").count() > 0L)
    // 1200 rows ingested over the run; buffered join state stays ~one
    // batch (120 rows both sides) + eviction lag
    assert(joinState.drop(2).forall(_ <= 300L),
      s"join state grew: ${joinState.mkString(",")}")
  }

  test("RocksDB state store: dedup + streaming minhash dedup produce " +
      "identical output and the watermark still evicts") {
    // r14: the provider a cluster deployment runs (state off-heap/on-disk,
    // not bounded by executor memory) must be a pure swap — same rows,
    // same state eviction — for both the built-in dedup state and the
    // custom flatMapGroupsWithState operator (StreamingDedup, q96/q255). Provider is a per-query
    // session conf; restore it so later suites keep the default store.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      // dedup: 5 batches x 100 fresh keys + 20 repeats of batch-local
      // keys; watermark evicts across batches, dedup holds within
      val in = MemoryStream[(Long, Timestamp)]
      val q = in.toDF.toDF("id", "ts")
        .withWatermark("ts", "2 minutes").dropDuplicates("id", "ts")
        .writeStream.outputMode("append").format("memory")
        .queryName("rocksdb_dedup").start()
      val state = scala.collection.mutable.ArrayBuffer.empty[Long]
      (0 until 5).foreach { b =>
        val fresh = (0 until 100).map(k =>
          ((b * 100 + k).toLong, ts(b * 600L + k % 60)))
        val dups = (0 until 20).map(k =>
          ((b * 100 + k).toLong, ts(b * 600L + k % 60)))
        in.addData(fresh ++ dups: _*)
        q.processAllAvailable()
        state += q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      q.stop()
      // every fresh key exactly once (within-batch dups dropped), state
      // bounded by ~one batch under RocksDB exactly as under the default
      assert(spark.table("rocksdb_dedup").count() == 500L)
      assert(state.drop(2).forall(_ <= 250L),
        s"rocksdb dedup state grew: ${state.mkString(",")}")

      // custom state: StreamingDedup's flatMapGroupsWithState path must
      // run unchanged on RocksDB (same verdicts as its batch form)
      import graft.streaming.StreamingDedup
      val docA = "the quick brown fox jumps over the lazy dog again and again"
      val docB = "an entirely different document about spark execution engines"
      val din = MemoryStream[(Long, String)]
      val dq = StreamingDedup.dedupStream(din.toDF.toDF("doc_id", "text"),
          "doc_id", "text")
        .writeStream.outputMode("append").format("memory")
        .queryName("rocksdb_minhash_dedup").start()
      din.addData((1L, docA), (2L, docB))
      dq.processAllAvailable()
      din.addData((3L, docA), (4L, docB))
      dq.processAllAvailable()
      dq.stop()
      val verdicts = spark.table("rocksdb_minhash_dedup")
        .as[StreamingDedup.DedupVerdict].collect().toSet
      val batch = StreamingDedup.dedupStream(
        Seq((1L, docA), (2L, docB), (3L, docA), (4L, docB))
          .toDF("doc_id", "text"), "doc_id", "text").collect().toSet
      assert(verdicts == batch)
      assert(verdicts.filter(_.is_dup).map(v => (v.doc_id, v.keeper)) ==
        Set((3L, 1L), (4L, 2L)), verdicts)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  // ---- withStreamConf ---------------------------------------------------

  private val partsKey = "spark.sql.shuffle.partitions"
  private val mgrKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val ckptKey = "spark.sql.streaming.checkpointLocation"
  private val fsManager = "org.apache.spark.sql.execution.streaming." +
    "checkpointing.FileSystemBasedCheckpointFileManager"
  private val fsImplKey = "fs.file.impl"
  private val fsCacheKey = "fs.file.impl.disable.cache"
  private val isoKey = "spark.sql.artifact.isolation.enabled"

  /** The `file:` file system a stream of the session would get. */
  private def localFs: org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf())

  /** Runs `f`, then puts `keys` back as they were (set or unset). */
  private def keepingConf[T](keys: String*)(f: => T): T = {
    val before = keys.map(k => k -> spark.conf.getAll.get(k))
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("withStreamConf sets both keys inside and restores set and unset " +
      "keys afterwards, also when the body throws") {
    keepingConf(partsKey, mgrKey, ckptKey, fsImplKey, fsCacheKey, isoKey) {
      spark.conf.unset(ckptKey)
      val stockFs = localFs.getClass
      // earlier state: partitions and the FS cache key set to non-default
      // values, manager, file system and artifact isolation unset
      spark.conf.set(partsKey, "7")
      spark.conf.set(fsCacheKey, "false")
      spark.conf.unset(mgrKey)
      spark.conf.unset(fsImplKey)
      spark.conf.unset(isoKey)
      val inside = StreamingOps.withStreamConf(spark) {
        (spark.conf.get(partsKey), spark.conf.getOption(mgrKey),
          spark.conf.getOption(fsImplKey), spark.conf.getOption(fsCacheKey),
          spark.conf.getOption(isoKey), localFs.getClass)
      }
      assert(inside == (("4", Some(fsManager),
        Some(classOf[graft.io.NioLocalFileSystem].getName), Some("true"),
        Some("false"), classOf[graft.io.NioLocalFileSystem])))
      assert(spark.conf.get(partsKey) == "7")
      assert(spark.conf.get(fsCacheKey) == "false")
      assert(!spark.conf.getAll.contains(mgrKey), "unset key left set")
      assert(!spark.conf.getAll.contains(fsImplKey), "unset key left set")
      assert(!spark.conf.getAll.contains(isoKey), "unset key left set")
      assert(localFs.getClass == stockFs)

      // a throwing body restores too; a set manager and a set isolation
      // key get their values back
      val fileContext = "org.apache.spark.sql.execution.streaming." +
        "checkpointing.FileContextBasedCheckpointFileManager"
      spark.conf.set(mgrKey, fileContext)
      spark.conf.set(isoKey, "true")
      val e = intercept[IllegalStateException] {
        StreamingOps.withStreamConf(spark) {
          assert(spark.conf.get(mgrKey) == fsManager)
          assert(spark.conf.get(isoKey) == "false")
          assert(localFs.isInstanceOf[graft.io.NioLocalFileSystem])
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assert(spark.conf.get(partsKey) == "7")
      assert(spark.conf.get(mgrKey) == fileContext)
      assert(spark.conf.get(fsCacheKey) == "false")
      assert(spark.conf.get(isoKey) == "true")
      assert(!spark.conf.getAll.contains(fsImplKey), "unset key left set")
      assert(localFs.getClass == stockFs)
    }
  }

  test("a session whose first action runs inside withStreamConf keeps its " +
      "own artifact state afterwards") {
    import org.apache.spark.sql.GraftBridge.artifactSessionUuid
    import org.apache.spark.sql.GraftTestBridge.sessionUuid
    val fresh = spark.newSession()
    val uuid = sessionUuid(fresh)
    StreamingOps.withStreamConf(fresh) {
      assert(fresh.conf.get(isoKey) == "false")
      assert(fresh.range(3).count() == 3)
    }
    // Spark reads the key once per session: had the first read happened
    // inside the helper, isolation would stay off for this session
    assert(artifactSessionUuid(fresh).contains(uuid))
  }

  test("a second run of a stateful AvailableNow stream under withStreamConf " +
      "compiles no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import spark.implicits._
    // each run is a new stream, so a new cloned session; with artifact
    // isolation on, its tasks got a new class loader, and CodeGenerator's
    // cache (keyed by class loader and source) missed on every class
    def run(sink: String): (Long, Seq[(String, Long)]) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (out, _) = StreamingOps.withStreamConf(spark) {
        StreamingOps.runAvailableNowProgress(spark, s"$sfDir/events.parquet",
          sink, outputMode = "complete")(
          _.groupBy("event_type").agg(count(lit(1)).as("n")))
      }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      (compiles, out.as[(String, Long)].collect().sorted.toSeq)
    }
    val (_, first) = run("codegen_reuse_1")
    val (compiles, second) = run("codegen_reuse_2")
    assert(first.nonEmpty && second == first)
    assert(compiles == 0, "the second run recompiled generated code")
  }

  test("withStreamConf keeps Spark's default manager for a non-local " +
      "checkpoint root (conf check only)") {
    keepingConf(partsKey, mgrKey, ckptKey, fsImplKey, fsCacheKey) {
      spark.conf.unset(mgrKey)
      spark.conf.set(ckptKey, "hdfs://nn/ckpt")
      assert(!StreamingOps.checkpointRootIsLocal(spark))
      StreamingOps.withStreamConf(spark) {
        assert(spark.conf.get(partsKey) == "4")
        assert(spark.conf.getOption(mgrKey).isEmpty)
        // the file system keys touch only file: paths, so they stay on
        assert(spark.conf.getOption(fsImplKey)
          .contains(classOf[graft.io.NioLocalFileSystem].getName))
      }
      for (local <- Seq("file:/data/ckpt", "/data/ckpt")) {
        spark.conf.set(ckptKey, local)
        assert(StreamingOps.checkpointRootIsLocal(spark), local)
      }
      spark.conf.unset(ckptKey)
      assert(StreamingOps.checkpointRootIsLocal(spark))
    }
  }

  test("stateful stream under withStreamConf equals the batch result and " +
      "keeps both checksum layers in its state dir") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = SparkTestBase.tempDir("graft-ckpt")
    val batches = Seq(
      Seq((1L, "a"), (2L, "b"), (1L, "a"), (3L, "c")),
      Seq((2L, "b"), (4L, "d"), (4L, "d"), (5L, "e")))
    val in = MemoryStream[(Long, String)]
    StreamingOps.withStreamConf(spark) {
      // the stream's files go through the NIO-permission file system
      assert(localFs.isInstanceOf[graft.io.NioLocalFileSystem])
      val q = in.toDF.toDF("id", "v").dropDuplicates("id")
        .writeStream.outputMode("append").format("memory")
        .queryName("ckpt_dedup")
        .option("checkpointLocation", ckpt.toString)
        .start()
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    assert(!spark.conf.getAll.contains(fsImplKey), "unset key left set")
    assert(!spark.conf.getAll.contains(fsCacheKey), "unset key left set")
    val streamed = spark.table("ckpt_dedup").as[(Long, String)].collect()
    val batch = batches.flatten.toDF("id", "v").dropDuplicates("id")
      .as[(Long, String)].collect()
    assert(streamed.sorted.toSeq == batch.sorted.toSeq)
    assert(streamed.length == 5)
    // one store per shuffle partition; every one commits version 1 and 2
    val stores = ckpt.resolve("state/0").toFile.listFiles()
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
    assert(stores.length == 4, stores.map(_.getName).toSeq)
    for (st <- stores; v <- Seq(1, 2)) {
      val names = st.list().toSet
      assert(names.contains(s"$v.delta"), (st, names))
      // Spark's checkpoint checksum file and Hadoop LocalFileSystem's sidecar
      assert(names.contains(s"$v.delta.crc"), (st, names))
      assert(names.contains(s".$v.delta.crc"), (st, names))
    }
  }

  test("a stateful stream under withStreamConf forks no chmod or readlink " +
      "and reloads its state after a restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = SparkTestBase.tempDir("graft-ckpt-forks")
    val jfr = SparkTestBase.tempDir("graft-forks").resolve("forks.jfr")
    val in = MemoryStream[Long]
    // each batch runs in its own query over one checkpoint, so batch 2's
    // stores are new provider instances that load batch 1's state from
    // disk (complete mode: the memory sink recovers only in that mode)
    def run(sink: String, ids: Long*): Seq[(Long, Long)] = {
      val q = in.toDF.toDF("id").groupBy("id").count()
        .writeStream.outputMode("complete").format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt.toString)
        .start()
      try { in.addData(ids: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(sink).as[(Long, Long)].collect().sorted.toSeq
    }
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val (first, second) = StreamingOps.withStreamConf(spark) {
        (run("fork_guard_1", 1L, 2L), run("fork_guard_2", 1L, 3L))
      }
      rec.stop()
      assert(first == Seq((1L, 1L), (2L, 1L)))
      // the reloaded state carries batch 1's counts
      assert(second == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
      rec.dump(jfr)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .map(_.getString("command"))
      val forked = commands.filter { c =>
        val exe = c.trim.split("\\s+").head
        Set("chmod", "readlink")(exe.substring(exe.lastIndexOf('/') + 1))
      }
      val n = forked.size
      assert(n == 0, s"forks, e.g. ${forked.take(3)}")
    } finally {
      rec.close()
      graft.io.NioLocalFileSystem.deleteRecursively(ckpt)
    }
  }

  test("the AvailableNow runners delete their per-call stream dirs when " +
      "the stream ends, and the returned table still reads") {
    val events = s"$sfDir/events.parquet"
    val expected = Tables.events(spark, sfDir).count()
    // the stream's source dir, read off the streaming plan the runner
    // hands to the transform
    var streamDir: Option[String] = None
    def capture(df: org.apache.spark.sql.DataFrame) = {
      streamDir = "graft-stream(-2b)?\\d+".r
        .findFirstIn(df.queryExecution.analyzed.toString)
      df.select("event_id")
    }
    val (single, _) = StreamingOps.withStreamConf(spark) {
      StreamingOps.runAvailableNowProgress(spark, events, "reclaim_single")(capture)
    }
    val singleDir = streamDir
    streamDir = None
    val (split, progress) = StreamingOps.withStreamConf(spark) {
      StreamingOps.runAvailableNowDateSplitProgress(spark, events,
        "reclaim_split")(capture)
    }
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    for ((dir, prefix) <- Seq(singleDir -> "graft-stream",
        streamDir -> "graft-stream-2b")) {
      assert(dir.exists(_.startsWith(prefix)), dir)
      assert(!java.nio.file.Files.exists(tmp.resolve(dir.get)), dir)
    }
    assert(progress.count(_.numInputRows > 0) == 2) // both phases streamed
    assert(single.count() == expected && split.count() == expected)
    // the symlink went with its dir; the corpus file it pointed at stays
    assert(new java.io.File(events).isFile)
  }
}
