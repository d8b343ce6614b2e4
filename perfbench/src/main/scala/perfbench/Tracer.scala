package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.{ArrayBuffer, HashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder built only from Spark's public listeners.
  *
  * The harness tags every job with two local properties: the query span id
  * (`p<pass>:<query>`) and the phase (`build` while
  * `SparkEntry.queries(name)` runs, `execute` during the noop write). Jobs
  * and stages carry those properties, so the hierarchy
  * query → phase → job → stage → task is recorded without touching the
  * engine. Catalyst phases and streaming progress carry no properties;
  * they are recorded with their start time and attributed to the query
  * whose interval contains it.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val lock = new Object
  private val events = new AtomicLong
  private val openJobs = new AtomicLong
  private val jobs = ArrayBuffer[Map[String, Any]]()
  private val jobStart = HashMap[Int, (String, String, Long, Seq[Int])]()
  private val stageSpan = HashMap[Int, (String, String)]()
  private val stageTasks = HashMap[(Int, Int), StageAcc]()
  private val stages = ArrayBuffer[Map[String, Any]]()
  private val catalyst = ArrayBuffer[Map[String, Any]]()
  private val streaming = ArrayBuffer[Map[String, Any]]()

  private final class StageAcc {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs = 0L
    var spillMem, spillDisk = 0L
    var inputBytes, inputRows, outputBytes, outputRows = 0L
    val durMs = ArrayBuffer[Long]()
    val intervals = ArrayBuffer[Seq[Long]]()
  }

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      events.incrementAndGet(); openJobs.incrementAndGet()
      val span = prop(e.properties, SpanKey)
      val phase = prop(e.properties, PhaseKey)
      jobStart(e.jobId) = (span, phase, e.time, e.stageIds)
      e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, (span, phase)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      events.incrementAndGet(); openJobs.decrementAndGet()
      jobStart.remove(e.jobId).foreach { case (span, phase, t0, stageIds) =>
        jobs += Map("job" -> e.jobId, "span" -> span, "phase" -> phase,
          "start_ms" -> t0, "end_ms" -> e.time, "stages" -> stageIds,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        events.incrementAndGet()
        val span = prop(e.properties, SpanKey)
        if (span != null)
          stageSpan(e.stageInfo.stageId) = (span, prop(e.properties, PhaseKey))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      events.incrementAndGet()
      val acc = stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageAcc)
      val info = e.taskInfo
      acc.tasks += 1
      if (!info.successful) acc.failed += 1
      acc.durMs += info.duration
      acc.intervals += Seq(info.launchTime, info.finishTime)
      val m = e.taskMetrics
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        acc.spillMem += m.memoryBytesSpilled
        acc.spillDisk += m.diskBytesSpilled
        acc.inputBytes += m.inputMetrics.bytesRead
        acc.inputRows += m.inputMetrics.recordsRead
        acc.outputBytes += m.outputMetrics.bytesWritten
        acc.outputRows += m.outputMetrics.recordsWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        events.incrementAndGet()
        val i = e.stageInfo
        val (span, phase) = stageSpan.getOrElse(i.stageId, (null, null))
        val acc = stageTasks.remove((i.stageId, i.attemptNumber()))
          .getOrElse(new StageAcc)
        stages += Map("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
          "span" -> span, "phase" -> phase,
          "submit_ms" -> i.submissionTime.getOrElse(-1L),
          "end_ms" -> i.completionTime.getOrElse(-1L),
          "ok" -> i.failureReason.isEmpty, "tasks" -> acc.tasks,
          "failed_tasks" -> acc.failed, "run_ms" -> acc.runMs,
          "cpu_ns" -> acc.cpuNs, "gc_ms" -> acc.gcMs,
          "shuffle_write_bytes" -> acc.shuffleWrite,
          "shuffle_read_bytes" -> acc.shuffleRead,
          "fetch_wait_ms" -> acc.fetchWaitMs,
          "spill_mem_bytes" -> acc.spillMem,
          "spill_disk_bytes" -> acc.spillDisk,
          "input_bytes" -> acc.inputBytes, "input_rows" -> acc.inputRows,
          "output_bytes" -> acc.outputBytes, "output_rows" -> acc.outputRows,
          "task_ms" -> acc.durMs.toSeq, "task_intervals" -> acc.intervals.toSeq)
      }
  }

  private val sql = new QueryExecutionListener {
    private def record(qe: QueryExecution, ok: Boolean): Unit =
      lock.synchronized {
        events.incrementAndGet()
        val phases = qe.tracker.phases
        def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
        catalyst += Map(
          "start_ms" -> (if (phases.isEmpty) System.currentTimeMillis()
            else phases.values.map(_.startTimeMs).min),
          "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"), "ok" -> ok)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, ok = false)
  }

  private val stream = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      events.incrementAndGet()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      events.incrementAndGet()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      events.incrementAndGet()
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators.toSeq
      streaming += Map(
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "batch" -> p.batchId, "input_rows" -> p.numInputRows,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "wal_commit_ms" -> (d.getOrElse("walCommit", 0L) +
          d.getOrElse("commitOffsets", 0L)),
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum)
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(sql)
    spark.streams.addListener(stream)
  }

  /** Waits until the listener bus has delivered every event of the traced
    * pass (no open jobs, no new event for 200 ms; at most 10 s), then
    * unregisters, so the next untraced pass runs without listeners. */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = -1L; var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        (openJobs.get > 0 || System.nanoTime() - quietSince < 200L * 1000 * 1000)) {
      val n = events.get
      if (n != last) { last = n; quietSince = System.nanoTime() }
      Thread.sleep(20)
    }
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(sql)
    spark.streams.removeListener(stream)
  }

  def records: Map[String, Any] = lock.synchronized {
    Map("jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
      "catalyst" -> catalyst.toSeq, "streaming" -> streaming.toSeq)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)
}
