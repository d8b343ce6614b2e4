package graft
package contract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Streaming queries: AvailableNow aggregations, joins, dedup and
  * state eviction, each run inside
  * [[graft.streaming.StreamingOps.withStreamConf]]. */
object StreamingQueries {
  import Tables._
  import Shared._

  /** Lane CTEs + the per-doc md5-of-lanes signature (the exact-dedup /
    * streaming-dedup grouping key) — shared by q96 and q100. */
  private val minhashSigCtes: String =
    s"""$minhashLaneCtes,
      |sigs AS (SELECT doc_id, md5(string_agg(h, '|' ORDER BY lane)) AS sig
      |         FROM minh GROUP BY doc_id)""".stripMargin

  /** View ⋈ click per user within 60 minutes, both sides behind a 2-hour
    * event-time watermark: the stream-stream interval join of q148, q255
    * and q260. */
  private def viewClickJoin(ev: DataFrame): DataFrame = {
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("v_event_id"),
        col("user_id").as("v_user"), col("ts").as("vts"))
      .withWatermark("vts", "2 hours")
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event_id"),
        col("user_id").as("c_user"), col("ts").as("cts"))
      .withWatermark("cts", "2 hours")
    v.join(c, col("v_user") === col("c_user") &&
        col("cts") >= col("vts") &&
        col("cts") <= col("vts") + expr("INTERVAL 60 MINUTES"))
      .select(col("v_user").as("user_id"), col("v_event_id"),
        col("c_event_id"),
        (unix_micros(col("cts")) - unix_micros(col("vts")))
          .as("delta_us"))
  }

  /** The signature dedup stream of q96 and q255 over non-blank documents. */
  private def dedupDocs(docs: DataFrame): DataFrame =
    graft.streaming.StreamingDedup.dedupStream(
      docs.filter(length(trim(col("text"))) > 0), "doc_id", "text").toDF()

  val contracts: Seq[Contract] = Seq(
    // §2.8 under the oracle: a REAL Structured Streaming execution —
    // AvailableNow over the parquet source, complete-mode aggregation into
    // the memory sink — must produce exactly the batch answer. (Complete
    // mode + memory sink is the test harness shape; a cluster deployment
    // appends watermarked updates to a real sink, see streaming/.)
    Contract("q90_streaming_agg", ((s, d) =>
      StreamingOps.withStreamConf(s) {
        StreamingOps.runAvailableNow(s, s"$d/lineitem.parquet",
            s"q90_mem_${datasetTok(d)}", outputMode = "complete") { li =>
          li.groupBy(col("l_returnflag"))
            .agg(count(lit(1)).cast("long").as("n"),
              sumc(col("l_quantity")).as("sum_qty"))
        }
      }),
      // q90: the streaming run must equal the batch aggregate exactly
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // §2.8 depth — STREAM-STREAM watermarked interval join (view→click
    // attribution within 60 minutes per user). Both sides derive from ONE
    // AvailableNow file stream, each branch carries its own event-time
    // watermark, and the time-range predicate is what lets the join state
    // store evict rows older than the watermark horizon (bounded state at
    // any stream length — the 100 TB requirement). Inner-join matches emit
    // eagerly (no watermark wait), so the streaming result is exactly the
    // batch interval join the oracle computes.
    Contract("q148_streaming_join", ((s, d) =>
      StreamingOps.withStreamConf(s) {
        StreamingOps.runAvailableNow(s, s"$d/events.parquet",
          s"q148_mem_${datasetTok(d)}")(viewClickJoin)
      }),
      // q148: the batch form of the stream-stream interval join — inner
      // matches emit eagerly in streaming, so the results are identical
      """WITH v AS (
        |  SELECT event_id AS v_event_id, user_id, ts AS vts
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id AS c_event_id, user_id, ts AS cts
        |  FROM events WHERE event_type = 'click')
        |SELECT v.user_id, v_event_id, c_event_id,
        |  epoch_us(c.cts) - epoch_us(v.vts) AS delta_us
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND c.cts >= v.vts AND c.cts <= v.vts + INTERVAL 60 MINUTE""".stripMargin),

    // §2.8 under the oracle, stateful flavor: a REAL streaming execution
    // of the MinHash exact-signature dedup — AvailableNow over a file
    // source, flatMapGroupsWithState keeper state, append-mode memory
    // sink — must equal the batch min-per-signature answer (single batch
    // here; across micro-batches the state carries earlier keepers).
    Contract("q96_streaming_dedup", ((s, d) =>
      StreamingOps.withStreamConf(s) {
        StreamingOps.runAvailableNow(s, s"$d/documents.parquet",
          s"q96_mem_${datasetTok(d)}")(dedupDocs)
      }),
      // q96: the streaming dedup must equal batch min-per-signature exactly;
      // signature mirror = md5 over the 16 ordered minhash lane minima
      s"""WITH $minhashSigCtes,
         |k AS (SELECT sig, min(doc_id) AS keeper FROM sigs GROUP BY sig)
         |SELECT s.doc_id, k.keeper, (s.doc_id <> k.keeper) AS is_dup
         |FROM sigs s JOIN k ON s.sig = k.sig""".stripMargin),

    // North star: incremental dedup — flag a NEW batch of documents
    // against the signature index of the already-ingested corpus, then
    // within-batch earliest-wins for unseen signatures. At 100 TB the
    // index is a stored (sig → keeper) table maintained across loads
    // (the dedup analogue of q93's partial-aggregate merge); here the
    // "old" half derives it. Shuffles carry (sig, id) only.
    Contract("q100_incremental_dedup", ((s, d) => {
      val docs = documents(s, d).filter(length(trim(col("text"))) > 0)
      def signed(df: DataFrame) = df.select(col("doc_id"),
        graft.streaming.StreamingDedup.signature(col("text")).as("sig"))
      val index = signed(docs.filter(col("doc_id") < 250))
        .groupBy(col("sig")).agg(min(col("doc_id")).as("corpus_keeper"))
      val batch = signed(docs.filter(col("doc_id") >= 250))
      val batchMin = batch.groupBy(col("sig"))
        .agg(min(col("doc_id")).as("batch_keeper"))
      batch.join(index, Seq("sig"), "left")
        .join(batchMin, Seq("sig"))
        .select(col("doc_id"),
          coalesce(col("corpus_keeper"), col("batch_keeper")).as("keeper"),
          (col("doc_id") =!=
            coalesce(col("corpus_keeper"), col("batch_keeper"))).as("is_dup"),
          col("corpus_keeper").isNotNull.as("known_sig"))
    }),
      // q100: new-batch verdicts against the old-corpus signature index,
      // then within-batch earliest-wins for unseen signatures
      s"""WITH $minhashSigCtes,
         |old AS (SELECT doc_id, sig FROM sigs WHERE doc_id < 250),
         |idx AS (SELECT sig, min(doc_id) AS ck FROM old GROUP BY sig),
         |b AS (SELECT doc_id, sig FROM sigs WHERE doc_id >= 250),
         |bm AS (SELECT sig, min(doc_id) AS bk FROM b GROUP BY sig)
         |SELECT b.doc_id, coalesce(i.ck, bm.bk) AS keeper,
         |  (b.doc_id <> coalesce(i.ck, bm.bk)) AS is_dup,
         |  (i.ck IS NOT NULL) AS known_sig
         |FROM b LEFT JOIN idx i ON b.sig = i.sig
         |JOIN bm ON b.sig = bm.sig""".stripMargin),

    // §2.8 depth — STREAMING OHLC bars: the q161 resample as a REAL
    // AvailableNow streaming aggregation (complete mode). Ordered
    // open/close come from min_by/max_by over the (ts, event_id) struct
    // — aggregate functions the state store can fold incrementally,
    // where window-function first/last would be unsupported in
    // streaming. The oracle is q161's batch SQL: stream/batch parity is
    // the assertion.
    Contract("q191_streaming_ohlc", ((s, d) =>
      StreamingOps.withStreamConf(s) {
        StreamingOps.runAvailableNow(s, s"$d/events.parquet",
            s"q191_mem_${datasetTok(d)}", outputMode = "complete") { ev =>
          val ord = struct(col("ts"), col("event_id"))
          ev.filter(col("value").isNotNull)
            .withColumn("day", to_date(col("ts")))
            .withColumn("c", round(col("value") * 100).cast("long"))
            .groupBy(col("event_type"), col("day"))
            .agg(min_by(col("c"), ord).cast("long").as("open_c"),
              max_by(col("c"), ord).cast("long").as("close_c"),
              max(col("c")).cast("long").as("high_c"),
              min(col("c")).cast("long").as("low_c"),
              count(lit(1)).cast("long").as("n"),
              sum(col("c")).cast("long").as("vol_c"))
        }
      }),
      // q191: the q161 batch SQL verbatim — the streaming run must equal
      // the batch resample (stream/batch parity is the point)
      """WITH b AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT event_type, day, c,
        |    first_value(c) OVER win AS open_c,
        |    last_value(c) OVER win AS close_c
        |  FROM b
        |  WINDOW win AS (PARTITION BY event_type, day ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT event_type, day,
        |  CAST(max(open_c) AS BIGINT) AS open_c,
        |  CAST(max(close_c) AS BIGINT) AS close_c,
        |  CAST(max(c) AS BIGINT) AS high_c, CAST(min(c) AS BIGINT) AS low_c,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS vol_c
        |FROM w GROUP BY 1, 2""".stripMargin),

    // §2.8 depth — stream-stream LEFT OUTER join: the semantics q148's
    // inner join cannot show. Matches emit eagerly; an UNMATCHED view can
    // only emit its null row once the watermark proves no purchase can
    // still arrive for it (vts + 30min band fully behind the final
    // watermark) — and views younger than that are discarded unemitted at
    // AvailableNow shutdown. The oracle derives the identical set: all
    // banded matches UNION the null rows for watermark-closed unmatched
    // views. This is the outer-join state-eviction contract a 100 TB
    // attribution stream relies on, proven against an independent batch
    // derivation.
    Contract("q230_streaming_outer_join", ((s, d) => {
      val streamed =
        StreamingOps.withStreamConf(s) {
          StreamingOps.runAvailableNow(s, s"$d/events.parquet",
              s"q230_mem_${datasetTok(d)}") { ev =>
            val v = ev.filter(col("event_type") === "view")
              .select(col("event_id").as("v_event_id"),
                col("user_id").as("v_user"), col("ts").as("vts"))
              .withWatermark("vts", "2 hours")
            val c = ev.filter(col("event_type") === "purchase")
              .select(col("event_id").as("c_event_id"),
                col("user_id").as("c_user"), col("ts").as("cts"))
              .withWatermark("cts", "2 hours")
            v.join(c, col("v_user") === col("c_user") &&
                col("cts") >= col("vts") &&
                col("cts") <= col("vts") + expr("INTERVAL 30 MINUTES"),
                "leftOuter")
              .select(col("v_user").as("user_id"), col("v_event_id"),
                col("c_event_id"),
                (unix_micros(col("cts")) - unix_micros(col("vts")))
                  .as("delta_us"))
          }
        }
      // Spark's EXACT outer-eviction boundary is an internal detail
      // (observed between wm−60m and wm−45m on this corpus — conservative
      // beyond the wm−30m the join condition implies). Report the
      // boundary-ROBUST subset both derivations agree on: every match,
      // plus null rows whose whole band is ≥2h behind the final watermark
      // (wm − 2h30m on vts — comfortably inside anything Spark evicts).
      // Every reported row is a real streaming emission.
      val mx = events(s, d).agg(max(col("ts"))).head().getTimestamp(0)
      val safe = new java.sql.Timestamp(
        mx.getTime - (2L * 3600 + 1800 + 2L * 3600) * 1000)
      val vtsMap = events(s, d)
        .select(col("event_id").as("v_event_id"), col("ts").as("vts"))
      streamed.join(vtsMap, "v_event_id")
        .filter(col("c_event_id").isNotNull || col("vts") < lit(safe))
        .select(col("user_id"), col("v_event_id"), col("c_event_id"),
          col("delta_us"))
    }),
      // q230: matches + watermark-closed unmatched views, independently
      // derived in batch SQL. A view can emit null only when its whole
      // 30-min match band sits behind the final watermark (max ts − 2h).
      """WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events),
        |v AS (SELECT event_id AS v_event_id, user_id, ts AS vts
        |      FROM events WHERE event_type = 'view'),
        |c AS (SELECT event_id AS c_event_id, user_id, ts AS cts
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT v.user_id, v_event_id, c_event_id,
        |    epoch_us(c.cts) - epoch_us(v.vts) AS delta_us
        |  FROM v JOIN c ON v.user_id = c.user_id
        |    AND c.cts >= v.vts AND c.cts <= v.vts + INTERVAL 30 MINUTE),
        |un AS (SELECT v.user_id, v.v_event_id,
        |    CAST(NULL AS BIGINT) AS c_event_id,
        |    CAST(NULL AS BIGINT) AS delta_us
        |  FROM v CROSS JOIN wm
        |  WHERE v.vts < wm.wm - INTERVAL 150 MINUTE
        |    AND NOT EXISTS (SELECT 1 FROM c
        |      WHERE c.user_id = v.user_id
        |        AND c.cts >= v.vts AND c.cts <= v.vts + INTERVAL 30 MINUTE))
        |SELECT * FROM m UNION ALL SELECT * FROM un""".stripMargin),

    // §2.8 depth — append-mode WATERMARK LATE-DROP semantics as a REAL
    // two-micro-batch execution under the oracle: the corpus's last-48h
    // tail arrives in batch 1 (advancing the watermark to max(ts) − 1h);
    // everything earlier arrives in batch 2 and is late by construction —
    // every batch-2 row's window closed long before, so Structured
    // Streaming must DROP them all and the output holds ONLY batch-1
    // windows closed by the final watermark. The oracle computes exactly
    // that tail-only window set; had the engine admitted late rows (or
    // emitted unclosed windows), the row set itself would differ.
    Contract("q222_watermark_late_drop", ((s, d) => {
      val base = events(s, d).select(col("event_id"), col("ts"),
        col("event_type"))
      val mx = base.agg(max(col("ts"))).head().getTimestamp(0)
      val tsplit = new java.sql.Timestamp(mx.getTime - 48L * 3600 * 1000)
      val Seq(dir, outDir, ckpt) =
        Seq("q222_src", "q222_out", "q222_ck").map(scratch(_, d))
      // one plain parquet FILE per micro-batch, name- and mtime-ordered so
      // the file source's batch order is deterministic either way it sorts
      def writeOne(df: DataFrame, name: String, mtime: Long): Unit =
        StreamingOps.writeSingleParquet(df, dir.resolve(name), mtime,
          s"q222_watermark_late_drop: $name")
      writeOne(base.filter(col("ts") >= lit(tsplit)), "0001.parquet", 1000000L)
      val sch = schemaOf(s, dir.toString)
      // two INCREMENTAL AvailableNow runs against one checkpoint: run 1
      // sees only the tail file (watermark persists to state); run 2 sees
      // only the early file with the RESTORED watermark — every row late
      def runOnce(): Unit = StreamingOps.runIncremental(s, dir.toString, sch,
          ckpt.toString, outDir.toString) {
        _.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n").cast("long").as("n"))
      }
      StreamingOps.withStreamConf(s) {
        runOnce()
        writeOne(base.filter(col("ts") < lit(tsplit)), "0002.parquet",
          2000000L)
        runOnce()
      }
      s.read.parquet(outDir.toString)
    }),
      // q222: only the last-48h tail's windows closed by the final watermark
      // (max tail ts − 1h) may appear; every earlier event was late in its
      // micro-batch and dropped. Window emission boundary: end <= watermark.
      """WITH mx AS (SELECT max(ts) AS mx FROM events),
        |a AS (SELECT ts, event_type FROM events CROSS JOIN mx
        |      WHERE ts >= mx - INTERVAL 48 HOUR),
        |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM a),
        |w AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
        |        count(*) AS n
        |      FROM a GROUP BY 1, 2)
        |SELECT window_start, event_type, CAST(n AS BIGINT) AS n
        |FROM w CROSS JOIN wm
        |WHERE window_start + INTERVAL 1 HOUR <= wm.wm""".stripMargin),

    // Streaming state-store observability, ORACLE-CHECKABLE core (r17
    // VERDICT item 1 — this was the board's only rows-only row). Runs
    // the two stateful stream classes the board exercises — signature-
    // keyed dedup state (q96's shape) and symmetric stream-stream join
    // state (q148's shape) — under single-batch AvailableNow (the whole
    // corpus is ONE data micro-batch: watermark starts at 0, so nothing
    // evicts within it) and returns the FIRST data batch's state counts
    // per stream, which are plain functions of the corpus:
    //   dedup — flatMapGroupsWithState keyed by the minhash signature:
    //     rows_total = rows_updated = distinct signatures (the exact
    //     count q96's oracle already mirrors), rows_removed = 0;
    //   join — every non-null-key, non-null-time row of both sides is
    //     inserted into its side's store: rows_total = rows_updated =
    //     n_view + n_click, rows_removed = 0.
    // The store-impl-dependent metrics (mem_bytes, operator names,
    // per-batch timings/rates, the post-watermark eviction batch) move
    // to the verify-artifact sidecar target/q255_state_sidecar.json,
    // rewritten on every run (r17 VERDICT item 7) — observability is
    // not lost, it is just not pretending to be oracle-checkable.
    Contract("q255_stream_state_metrics", ((s, d) => {
      val tok = datasetTok(d)
      StreamingOps.withStreamConf(s) {
        // r21 (guide §2.6): the dedup stream and the join stream are
        // INDEPENDENT queries over different tables — run them
        // concurrently from two driver threads so the second stream's
        // micro-batch back-fills cores the first one's tail leaves idle
        // (each stream's own batches stay sequential; progress objects
        // and sink tables are per-stream, so the result is unchanged).
        val Seq(dedupProg, joinProg) = graft.operators.Overlap.runAll(Seq(
          () => StreamingOps.runAvailableNowProgress(
            s, s"$d/documents.parquet", s"q255_dedup_$tok")(dedupDocs)._2,
          () => StreamingOps.runAvailableNowProgress(
            s, s"$d/events.parquet", s"q255_join_$tok") { ev =>
            // null join keys / event times are filtered EXPLICITLY so the
            // state-row count is a clean SQL quantity (what the symmetric
            // hash join would do with a null-keyed row is an impl detail
            // the oracle must not depend on)
            viewClickJoin(
              ev.filter(col("user_id").isNotNull && col("ts").isNotNull))
          }._2))
        StreamingOps.writeStateSidecar(
          "target/q255_state_sidecar.json",
          Seq("dedup" -> dedupProg, "join" -> joinProg))
        StreamingOps.firstBatchStateCounts(s,
          Seq("dedup" -> dedupProg, "join" -> joinProg))
      }
    }),
      // q255: first-data-batch state counts are corpus functions — dedup
      // state is one row per distinct minhash signature (q96's sigs CTE),
      // stream-stream join state is one row per non-null-key/time event on
      // either side; nothing evicts at watermark 0, so removed = 0
      s"""WITH $minhashSigCtes,
         |ded AS (SELECT CAST(count(DISTINCT sig) AS BIGINT) AS n FROM sigs),
         |ev AS (SELECT event_type FROM events
         |       WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |         AND event_type IN ('view', 'click')),
         |vc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev)
         |SELECT 'dedup' AS stream, CAST(0 AS BIGINT) AS op_idx,
         |  ded.n AS rows_total, ded.n AS rows_updated,
         |  CAST(0 AS BIGINT) AS rows_removed FROM ded
         |UNION ALL
         |SELECT 'join', CAST(0 AS BIGINT), vc.n, vc.n, CAST(0 AS BIGINT)
         |FROM vc""".stripMargin),

    // Streaming state EVICTION, oracle-checked (r18 VERDICT item 2 —
    // q255's single-batch design makes rows_removed = 0 by construction,
    // so the eviction half of the bounded-state claim was spec-asserted
    // but never oracle-seen). A deterministic TWO-batch AvailableNow run:
    // the events corpus is split at the midpoint of its event-time range
    // (epoch-microsecond (min+max)/2, integer division — a pure corpus
    // function) into two phase files consumed one per micro-batch, so
    // the watermark provably advances between batches and every per-batch
    // state transition is computable from the corpus:
    //   wm(batch b) = floor(max event-time of batches < b, ms) − 37 min
    //     (0 for the first batch);
    //   hourly-window agg state: a window [w, w+1h) is evicted in the
    //     first batch whose wm satisfies w+1h <= wm (the <= boundary is
    //     pinned empirically by StreamingSpec's exact-boundary case);
    //   the trailing NO-data micro-batch Spark runs under AvailableNow
    //     (noDataMicroBatches) is batch_seq 2 — where the final
    //     watermark's evictions land.
    // Window choice (1 h windows, 37 min delay over a 30-day corpus)
    // makes all three transitions non-trivial: batch 1 evicts ~half the
    // windows (nonzero rows_removed — the item's "done" bar), batch 2
    // evicts all but the last.
    Contract("q257_stream_state_eviction", ((s, d) => {
      StreamingOps.withStreamConf(s) {
        val (_, progs) = StreamingOps.runAvailableNowDateSplitProgress(
          s, s"$d/events.parquet", s"q257_agg_${datasetTok(d)}") { ev =>
          ev.filter(col("ts").isNotNull)
            .withWatermark("ts", "37 minutes")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("n"))
            .select(col("window.start").as("ws"), col("n"))
        }
        StreamingOps.batchStateCounts(s, progs)
      }
    }),
      // q257: two-batch eviction — phase split at the epoch-us midpoint,
      // hourly windows, wm(b) = floor(max prior-batch event ms) - 37 min,
      // eviction predicate w_end <= wm (boundary pinned in StreamingSpec);
      // the third row is the trailing no-data finalization batch
      """WITH e AS (SELECT epoch_us(ts) AS us FROM events),
        |bounds AS (SELECT min(us) AS mn, max(us) AS mx FROM e),
        |sp AS (SELECT (mn + mx) // 2 AS s, mx FROM bounds),
        |a AS (SELECT us FROM e, sp WHERE us IS NULL OR us < s),
        |b AS (SELECT us FROM e, sp WHERE us >= s),
        |wa AS (SELECT DISTINCT us - us % 3600000000 AS w FROM a
        |       WHERE us IS NOT NULL),
        |wb AS (SELECT DISTINCT us - us % 3600000000 AS w FROM b),
        |wall AS (SELECT w FROM wa UNION SELECT w FROM wb),
        |wm1 AS (SELECT ((max(us) // 1000) - 2220000) * 1000 AS t FROM a),
        |wm2 AS (SELECT ((mx // 1000) - 2220000) * 1000 AS t FROM sp),
        |rem1 AS (SELECT count(*) AS n FROM wall, wm1
        |         WHERE w + 3600000000 <= t),
        |remc AS (SELECT count(*) AS n FROM wall, wm2
        |         WHERE w + 3600000000 <= t),
        |na AS (SELECT count(*) AS n FROM a),
        |nb AS (SELECT count(*) AS n FROM b),
        |nwa AS (SELECT count(*) AS n FROM wa),
        |nwb AS (SELECT count(*) AS n FROM wb),
        |nwall AS (SELECT count(*) AS n FROM wall)
        |SELECT CAST(0 AS BIGINT) AS batch_seq,
        |  CAST(na.n AS BIGINT) AS input_rows,
        |  CAST(nwa.n AS BIGINT) AS rows_total,
        |  CAST(nwa.n AS BIGINT) AS rows_updated,
        |  CAST(0 AS BIGINT) AS rows_removed
        |FROM na, nwa
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(nb.n AS BIGINT),
        |  CAST(nwall.n - rem1.n AS BIGINT), CAST(nwb.n AS BIGINT),
        |  CAST(rem1.n AS BIGINT)
        |FROM nb, nwall, rem1, nwb
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(nwall.n - remc.n AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(remc.n - rem1.n AS BIGINT)
        |FROM nwall, remc, rem1""".stripMargin),

    // Stream-stream JOIN state eviction, oracle-checked (r19 VERDICT
    // item 2 — q257 closed eviction for the windowed AGGREGATE; the
    // symmetric hash join's rows_removed was still first-batch-only,
    // 0 by construction). q255's view⋈click interval join through the
    // same two-batch date-split runner. The per-batch state transitions
    // are pure corpus functions under rules pinned empirically
    // (q260's oracle; boundary cases in StreamingSpec):
    //   wm(b) = floor-ms(min(max vts, max cts) of batches < b) − 2 h —
    //     the MIN across the two watermark columns, each max over that
    //     side's FILTERED rows;
    //   a view row is evicted once vts + 60 min ≤ wm − 1 ms (its
    //     condition upper bound cts ≤ vts + 60 min can no longer match
    //     a future click), a click row once cts ≤ wm − 1 ms (cts ≥ vts
    //     can no longer match a future view) — both thresholds are
    //     µs-exact with the −1 ms offset (a row at wm − 1 µs SURVIVES;
    //     pinned against both the ms-grain and sub-ms hypotheses);
    //   numInputRows counts the phase's RAW rows once per join branch
    //     (the file source fans out into the view and click legs) = 2 ×
    //     phase rows, nulls included;
    //   batch_seq 2 is the trailing no-data finalization batch.
    // Phase-B rows are ≥ split > wm(1) by construction, so batch 1's
    // evictions are phase-A rows only and arrivals are never
    // drop-on-arrival — the oracle counts stay clean corpus aggregates.
    Contract("q260_stream_join_eviction", ((s, d) => {
      StreamingOps.withStreamConf(s) {
        val (_, progs) = StreamingOps.runAvailableNowDateSplitProgress(
          s, s"$d/events.parquet", s"q260_join_${datasetTok(d)}") { ev =>
          // the same explicit null filter as q255's join stream
          viewClickJoin(
            ev.filter(col("user_id").isNotNull && col("ts").isNotNull))
        }
        StreamingOps.batchStateCounts(s, progs)
      }
    }),
      // q260: join-state eviction — phase split at the epoch-us midpoint
      // (nulls to phase A), wm(b) = floor-ms(min of the two sides' prior
      // maxes) - 2 h, eviction thresholds wm - 1 ms (µs-exact; pinned by
      // this oracle + StreamingSpec), input = 2 × raw phase rows
      // (one per join branch of the fanned-out file source)
      """WITH e AS (SELECT event_type, user_id, epoch_us(ts) AS us
        |           FROM events),
        |bounds AS (SELECT min(us) AS mn, max(us) AS mx FROM e
        |           WHERE us IS NOT NULL),
        |sp AS (SELECT (mn + mx) // 2 AS s FROM bounds),
        |va AS (SELECT us FROM e, sp WHERE us IS NOT NULL AND us < s
        |       AND event_type = 'view' AND user_id IS NOT NULL),
        |ca AS (SELECT us FROM e, sp WHERE us IS NOT NULL AND us < s
        |       AND event_type = 'click' AND user_id IS NOT NULL),
        |vb AS (SELECT us FROM e, sp WHERE us >= s
        |       AND event_type = 'view' AND user_id IS NOT NULL),
        |cb AS (SELECT us FROM e, sp WHERE us >= s
        |       AND event_type = 'click' AND user_id IS NOT NULL),
        |thr1 AS (SELECT ((least((SELECT max(us) FROM va),
        |                        (SELECT max(us) FROM ca)) // 1000)
        |                 - 7200000) * 1000 - 1000 AS t),
        |thr2 AS (SELECT ((least((SELECT max(us) FROM (SELECT us FROM va
        |                          UNION ALL SELECT us FROM vb)),
        |                        (SELECT max(us) FROM (SELECT us FROM ca
        |                          UNION ALL SELECT us FROM cb))) // 1000)
        |                 - 7200000) * 1000 - 1000 AS t),
        |rem1 AS (SELECT (SELECT count(*) FROM va, thr1
        |                 WHERE us + 3600000000 <= t)
        |               + (SELECT count(*) FROM ca, thr1
        |                  WHERE us <= t) AS n),
        |remf AS (SELECT (SELECT count(*) FROM (SELECT us FROM va
        |                   UNION ALL SELECT us FROM vb), thr2
        |                 WHERE us + 3600000000 <= t)
        |               + (SELECT count(*) FROM (SELECT us FROM ca
        |                   UNION ALL SELECT us FROM cb), thr2
        |                  WHERE us <= t) AS n),
        |rawa AS (SELECT count(*) AS n FROM e, sp
        |         WHERE us IS NULL OR us < s),
        |rawb AS (SELECT count(*) AS n FROM e, sp WHERE us >= s),
        |n0 AS (SELECT (SELECT count(*) FROM va)
        |             + (SELECT count(*) FROM ca) AS n),
        |n1 AS (SELECT (SELECT count(*) FROM vb)
        |             + (SELECT count(*) FROM cb) AS n)
        |SELECT CAST(0 AS BIGINT) AS batch_seq,
        |  CAST(2 * rawa.n AS BIGINT) AS input_rows,
        |  CAST(n0.n AS BIGINT) AS rows_total,
        |  CAST(n0.n AS BIGINT) AS rows_updated,
        |  CAST(0 AS BIGINT) AS rows_removed
        |FROM rawa, n0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(2 * rawb.n AS BIGINT),
        |  CAST(n0.n + n1.n - rem1.n AS BIGINT), CAST(n1.n AS BIGINT),
        |  CAST(rem1.n AS BIGINT)
        |FROM rawb, n0, n1, rem1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(n0.n + n1.n - remf.n AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(remf.n - rem1.n AS BIGINT)
        |FROM n0, n1, remf, rem1""".stripMargin)
  )
}
