package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.io.NioLocalFileSystem.deleteRecursively

/** Structured-Streaming form of the engine's incremental pipelines.
  *
  * The reference is batch-incremental (per-run watermark read + fetch delta +
  * append, SURVEY §2.8); the Spark-native equivalent is a transform that is
  * IDENTICAL for batch and streaming inputs, run under `Trigger.AvailableNow`
  * with an event-time watermark standing in for the reference's 60-day
  * re-fetch overlap (`HTGPISNP500/__init__.py:96-98`).
  *
  * At scale: tumbling-window aggregation with a watermark bounds state size;
  * `dropDuplicates` within the watermark gives the exactly-once-ish append
  * the reference approximates by re-fetching a 60-day overlap.
  */
object StreamingOps {

  private val FileSystemManager = "org.apache.spark.sql.execution.streaming." +
    "checkpointing.FileSystemBasedCheckpointFileManager"

  /** Runs `body` under the session settings every engine stream uses, then
    * puts each key back to its earlier value, or unsets it if it was unset,
    * also when `body` throws:
    *
    *  - `spark.sql.shuffle.partitions` = 4. A stream fixes its state-store
    *    partition count at its first batch, the engine's streams hold small
    *    state, and at one store per core the per-store open/commit is their
    *    dominant fixed cost.
    *  - When the session's checkpoint root is local, checkpoint and
    *    state-store files go through Spark's
    *    `FileSystemBasedCheckpointFileManager`. The default
    *    `FileContextBasedCheckpointFileManager` renames through
    *    `AbstractFileSystem.rename`, which on a local path without libhadoop
    *    forks `readlink` on every rename (OPTIMIZATION_r23.md).
    *    `FileSystem.rename` is a POSIX rename(2), atomic and
    *    target-replacing; the file system stays Hadoop's `LocalFileSystem`,
    *    so the `.crc` sidecars are still written and verified, and Spark's
    *    checkpoint checksums still wrap the manager.
    *  - `file:` paths go through [[graft.io.NioLocalFileSystem]]
    *    (`fs.file.impl`, with `fs.file.impl.disable.cache`): the same
    *    checksummed `LocalFileSystem`, but it sets the permission of each
    *    file and directory it creates in-process instead of forking `chmod`
    *    (OPTIMIZATION_r24.md). The keys reach the checkpoint files, the
    *    state stores and any batch write in `body`. They touch only `file:`
    *    paths, so they are set whatever the checkpoint root is. The session
    *    is where they take effect: a builder-level key would lose to the
    *    stock instance in the JVM-wide FS cache.
    *  - `spark.sql.artifact.isolation.enabled` = false. Spark runs each
    *    stream in a cloned session with a new `sessionUUID`, and with
    *    isolation on the executor gives that session's tasks a new class
    *    loader. `CodeGenerator`'s cache is keyed by (class loader, source),
    *    so every stream run compiled all of its generated code again
    *    (OPTIMIZATION_r26.md). A stream's session copies this conf when it
    *    starts, runs its tasks in the executor's default session, and so
    *    reuses the classes earlier runs compiled. The engine adds no
    *    session artifacts (HarnessSpec's artifact census), so there is
    *    nothing to isolate. The parent session reads the key once, lazily;
    *    it is read here before the key is set, so the parent keeps its own
    *    artifact state.
    *
    * Only the session-level root is checked: a body that gives a stream its
    * own `checkpointLocation` must keep it local. */
  def withStreamConf[T](spark: SparkSession)(body: => T): T = {
    // fixes the parent's artifact state before the isolation key is set
    org.apache.spark.sql.GraftBridge.artifactSessionUuid(spark)
    val settings = Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.artifact.isolation.enabled" -> "false") ++
      (if (checkpointRootIsLocal(spark))
        Seq("spark.sql.streaming.checkpointFileManagerClass" -> FileSystemManager)
      else Nil) ++
      graft.io.NioLocalFileSystem.sessionConf
    val set = spark.conf.getAll // explicitly set keys only, no defaults
    val prev = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** True when the session's streams checkpoint on the local file system:
    * `spark.sql.streaming.checkpointLocation` is a `file:` URI, or it is a
    * path without a scheme or unset (Spark then uses a temp dir under
    * `java.io.tmpdir`) and the default file system is local. A conf check
    * only; no file system is touched. */
  private[graft] def checkpointRootIsLocal(spark: SparkSession): Boolean = {
    val root = spark.conf.getOption("spark.sql.streaming.checkpointLocation")
      .filter(_.nonEmpty)
    val scheme = root.flatMap(r => Option(new Path(r).toUri.getScheme))
      .getOrElse(FileSystem.getDefaultUri(
        spark.sparkContext.hadoopConfiguration).getScheme)
    scheme == "file"
  }

  /** Checkpointed incremental run — the streaming form of the reference's
    * watermark table (SURVEY §7.4 north star 5): each invocation processes
    * only files not yet recorded in the checkpoint's file-source log and
    * appends to a parquet sink exactly-once. Re-running with the same
    * checkpoint after new files land processes just the delta — the
    * `MAX(date)`-watermark pattern with the state moved into the stream
    * checkpoint. */
  def runIncremental(spark: SparkSession, inputDir: String, schema: org.apache.spark.sql.types.StructType,
      checkpointDir: String, outDir: String)(
      transform: DataFrame => DataFrame): Unit = {
    val q = transform(spark.readStream.schema(schema).parquet(inputDir))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stream the events parquet directory with `Trigger.AvailableNow` through
    * `transform` into an in-memory table; returns the collected result.
    * Normalizes a `ts` column across all three corpus timestamp encodings
    * (NANOS-as-long, MICROS-NTZ, plain TIMESTAMP) via
    * [[graft.Tables.normalizeEventTime]]. */
  def runAvailableNow(spark: SparkSession, path: String, queryName: String,
      outputMode: String = "append")(
      transform: DataFrame => DataFrame): DataFrame =
    runAvailableNowProgress(spark, path, queryName, outputMode)(transform)._1

  /** [[runAvailableNow]] that ALSO returns the run's
    * `StreamingQueryProgress` records, so callers can surface the
    * state-store metrics (rows held / updated / evicted, bytes) that back
    * the bounded-state claims — numbers per run, not code comments
    * (r16 VERDICT item 7). */
  def runAvailableNowProgress(spark: SparkSession, path: String,
      queryName: String, outputMode: String = "append")(
      transform: DataFrame => DataFrame)
      : (DataFrame, Seq[StreamingQueryProgress]) = {
    // FileStreamSource needs a directory; single-file corpora get a
    // symlinked temp dir, unique per call and deleted when the stream has
    // ended (the memory sink holds the rows by then)
    val f = new java.io.File(path)
    val linkDir =
      if (f.isFile) {
        val dir = java.nio.file.Files.createTempDirectory("graft-stream")
        java.nio.file.Files.createSymbolicLink(dir.resolve(f.getName),
          f.toPath.toAbsolutePath)
        Some(dir)
      } else None
    try {
      val batchSchema = graft.Tables.schemaOf(spark, path)
      val raw = spark.readStream.schema(batchSchema)
        .parquet(linkDir.fold(path)(_.toString))
      // Same three-encoding normalization as the batch path — `withWatermark`
      // is the strictest consumer (rejects NTZ outright), so the stream must
      // see session-TZ TIMESTAMP regardless of how the corpus was written.
      val events =
        if (batchSchema.fieldNames.contains("ts")) graft.Tables.normalizeEventTime(raw)
        else raw
      toMemory(spark, transform(events), queryName, outputMode)
    } finally linkDir.foreach(deleteRecursively)
  }

  /** The sink step of both AvailableNow runners: drops any stale view named
    * `queryName`, runs `stream` to its end under `Trigger.AvailableNow` into
    * the memory sink of that name, and returns the sink table with the
    * run's progress records. */
  private def toMemory(spark: SparkSession, stream: DataFrame,
      queryName: String, outputMode: String)
      : (DataFrame, Seq[StreamingQueryProgress]) = {
    spark.catalog.dropTempView(queryName)
    val q = stream.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (spark.table(queryName), q.recentProgress.toSeq)
  }

  /** TWO-batch AvailableNow runner (r18 VERDICT item 2): the corpus at
    * `path` is split at the midpoint of its event-time range into two
    * phase files inside a fresh stream dir, and the file source reads
    * them with `maxFilesPerTrigger = 1`, so each phase is its own
    * micro-batch in phase order — pinned twice, by lexical file name AND
    * strictly increasing modification times (FileStreamSource orders
    * pending files by modTime). The event-time watermark then PROVABLY
    * advances between batches, so per-batch state-eviction counts become
    * computable corpus functions — the one state transition the
    * single-batch runner above can never exercise (its watermark is 0
    * for its only data batch).
    *
    * The split point is `(min + max) / 2` of the epoch-microsecond event
    * time (integer division) — a pure corpus function a SQL oracle
    * recomputes exactly. NULL event times go to the FIRST phase (they
    * never move a watermark; keeping them early makes phase B strictly
    * later-dated, so the watermark advance is guaranteed whenever the
    * corpus spans more than the watermark delay).
    *
    * Returns the sink table and ALL progress records (including the
    * trailing no-data micro-batch Spark runs to let the final watermark
    * evict — that batch is where the last eviction counts land). */
  def runAvailableNowDateSplitProgress(spark: SparkSession, path: String,
      queryName: String)(
      transform: DataFrame => DataFrame)
      : (DataFrame, Seq[StreamingQueryProgress]) = {
    val batch0 =
      spark.read.schema(graft.Tables.schemaOf(spark, path)).parquet(path)
    val batch =
      if (batch0.schema.fieldNames.contains("ts"))
        graft.Tables.normalizeEventTime(batch0)
      else batch0
    val row = batch
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head()
    require(!row.isNullAt(0) && !row.isNullAt(1),
      s"runAvailableNowDateSplit($path): no non-null ts rows")
    // the two-phase split assumes each phase is NON-EMPTY: phase 0 takes
    // [min, split) and phase 1 takes [split, max]. Guard on the computed
    // SPLIT, not on min < max (r20 review): with max == min + 1 µs the
    // integer midpoint collapses to min and phase 0 would be empty even
    // though min < max holds — and an empty phase writes a 0-row part
    // file, so the headOption error below would never fire either.
    val splitUs = (row.getLong(0) + row.getLong(1)) / 2
    require(splitUs > row.getLong(0),
      s"runAvailableNowDateSplit($path): ts range " +
        s"[${row.getLong(0)}, ${row.getLong(1)}] µs is too narrow — the " +
        "integer midpoint equals the minimum, which would leave the " +
        "first phase empty; a two-batch split needs max ≥ min + 2")
    // deleted when the stream has ended (the memory sink holds the rows
    // by then)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-2b")
    // phase order is pinned by file name and by modTimes 60 s apart: it
    // must never depend on how fast the two writes happened to land on
    // the local FS clock
    def writePhase(i: Int, df: DataFrame): Unit =
      writeSingleParquet(df, dir.resolve(f"phase-$i%02d.parquet"),
        1700000000000L + i * 60000L, s"runAvailableNowDateSplit($path): phase $i")
    try {
      // The two phase writes are independent jobs over the same scan —
      // overlap them (guide §2.6) so phase B's scan back-fills the cores
      // phase A's single write task leaves idle. Phase ORDER is pinned by
      // file name + modTime inside writePhase, not by write completion
      // order, so concurrency cannot reorder the stream.
      graft.operators.Overlap.runAll(Seq[() => Unit](
        () => writePhase(0, batch.filter(col("ts").isNull ||
          unix_micros(col("ts")) < lit(splitUs))),
        () => writePhase(1, batch.filter(
          unix_micros(col("ts")) >= lit(splitUs)))))
      // phase files are written POST-normalization, so the stream schema is
      // plain session-TZ TIMESTAMP — no second normalization pass
      val sch = graft.Tables.schemaOf(spark, dir.toString)
      val raw = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      toMemory(spark, transform(raw), queryName, "append")
    } finally deleteRecursively(dir)
  }

  /** Write `df` as ONE plain parquet file at `dest` whose modification
    * time is `mtime` — the unit a file stream source reads as one
    * micro-batch, ordered by name and modTime. `what` names the file in
    * the errors.
    *
    * repartition(1), NOT coalesce(1) (r21, guide §2.4): coalesce
    * propagates the 1-partition constraint UP the plan, so the whole scan
    * and filter would run as ONE task; repartition keeps the scan
    * parallel and funnels only the surviving rows through one exchange
    * into the single part file. The modTime is checked: a filesystem that
    * refuses setLastModified would silently drop the ordering pin (r19
    * ADVICE). */
  private[graft] def writeSingleParquet(df: DataFrame,
      dest: java.nio.file.Path, mtime: Long, what: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-single-parquet")
    df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .headOption
      .getOrElse(sys.error(s"$what produced no parquet part file"))
    java.nio.file.Files.move(part.toPath, dest)
    require(dest.toFile.setLastModified(mtime),
      s"$what: setLastModified refused on $dest — file order would " +
        "depend on the local FS clock")
    deleteRecursively(tmp)
  }

  /** The DETERMINISTIC core of the state metrics [[writeStateSidecar]]
    * records (r17 VERDICT item 1): per labeled stream, the state-row
    * counts of the FIRST micro-batch that processed input rows. Under
    * single-batch `AvailableNow` the whole corpus is that batch and the
    * watermark is still 0 when it runs, so nothing evicts within it — rows_total / rows_updated /
    * rows_removed are then plain functions of the corpus (distinct
    * dedup keys; per-side insert counts for a stream-stream join) and a
    * SQL oracle can check them. One row per (stream, stateful operator);
    * op_idx orders multi-operator queries. Impl-dependent metrics
    * (mem_bytes, operator names, the eviction batch) belong in
    * [[writeStateSidecar]], not here. */
  def firstBatchStateCounts(spark: SparkSession,
      labeled: Seq[(String, Seq[StreamingQueryProgress])])
      : DataFrame = {
    import spark.implicits._
    labeled.flatMap { case (label, progs) =>
      val dataBatches = progs.filter(_.numInputRows > 0).sortBy(_.batchId)
      dataBatches.headOption.toSeq
        .flatMap { p =>
          // The oracle-checkability of these counts rests on the WHOLE
          // corpus landing in that first data batch (r18 ADVICE): if
          // maxFilesPerTrigger sneaks into the session conf (or
          // file-source batching changes), the first batch holds a
          // subset and the DuckDB mirror mismatches with no hint why —
          // fail loudly here, naming the assumption, instead.
          val total = dataBatches.map(_.numInputRows).sum
          require(p.numInputRows == total,
            s"firstBatchStateCounts($label): first data batch processed " +
              s"${p.numInputRows} of $total input rows — the single-batch " +
              "AvailableNow assumption is broken (maxFilesPerTrigger set, " +
              "or file-source batching changed); the first-batch state " +
              "counts are NOT corpus functions on a partial batch")
          p.stateOperators.zipWithIndex.map { case (so, i) =>
            (label, i.toLong, so.numRowsTotal, so.numRowsUpdated,
              so.numRowsRemoved)
          }
        }
    }.toDF("stream", "op_idx", "rows_total", "rows_updated", "rows_removed")
  }

  /** Per micro-batch counts of a stream's FIRST stateful operator, as
    * (batch_seq, input_rows, rows_total, rows_updated, rows_removed).
    * batch_seq re-indexes the sorted batch ids, so an oracle never
    * depends on Spark's internal batch numbering; a batch without a
    * stateful operator has no row. */
  private[graft] def batchStateCounts(spark: SparkSession,
      progs: Seq[StreamingQueryProgress])
      : DataFrame = {
    import spark.implicits._
    progs.sortBy(_.batchId).zipWithIndex.flatMap { case (p, seq) =>
      p.stateOperators.headOption.map { so =>
        (seq.toLong, p.numInputRows, so.numRowsTotal, so.numRowsUpdated,
          so.numRowsRemoved)
      }
    }.toDF("batch_seq", "input_rows", "rows_total", "rows_updated",
      "rows_removed")
  }

  /** Verify-artifact sidecar for the store-impl-dependent streaming
    * observability (r17 VERDICT items 1+7): every batch's state metrics
    * (incl. mem_bytes and operator names) PLUS the run's rate/timing
    * numbers from the same StreamingQueryProgress objects —
    * inputRowsPerSecond, processedRowsPerSecond, batchDuration. One
    * JSON document, rewritten per run; a missing target dir never fails
    * the query. */
  def writeStateSidecar(path: String,
      labeled: Seq[(String, Seq[StreamingQueryProgress])])
      : Unit = {
    // Locale.ROOT, not the default-locale f-interpolator: a comma
    // decimal separator would corrupt the JSON (review r18)
    def jn(d: Double): String =
      if (d.isNaN || d.isInfinite) "null"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val body = labeled.map { case (label, progs) =>
      val batches = progs.sortBy(_.batchId).map { p =>
        val ops = p.stateOperators.map { so =>
          s"""{"operator_name":"${so.operatorName}",""" +
            s""""rows_total":${so.numRowsTotal},""" +
            s""""rows_updated":${so.numRowsUpdated},""" +
            s""""rows_removed":${so.numRowsRemoved},""" +
            s""""mem_bytes":${so.memoryUsedBytes},""" +
            s""""n_store_partitions":${so.numShufflePartitions}}"""
        }.mkString("[", ",", "]")
        s"""{"batch_id":${p.batchId},"num_input_rows":${p.numInputRows},""" +
          s""""input_rows_per_sec":${jn(p.inputRowsPerSecond)},""" +
          s""""processed_rows_per_sec":${jn(p.processedRowsPerSecond)},""" +
          s""""batch_duration_ms":${p.batchDuration},"state_ops":$ops}"""
      }.mkString("[", ",", "]")
      s"""{"stream":"$label","batches":$batches}"""
    }.mkString("""{"streams":[""", ",", "]}")
    try {
      val p = java.nio.file.Paths.get(path)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, body)
    } catch { case _: java.io.IOException => }
  }
}
