package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop benchmark harness: one client, one query at a time.
  *
  * The harness only calls the engine's public entry point
  * `graft.SparkEntry.queries(name)(spark, dir)` (which builds the plan and
  * does any eager operator or streaming work) and then materialises the
  * result through the `noop` sink, the way `graft.Bench` does.
  *
  * A run has two parts:
  *   1. set-up: JVM start, SparkSession creation and one untimed pass
  *      that computes every query's canonical sorted-row hash. The pass
  *      pushes the engine's code paths through the JIT, fills the OS and
  *      parquet footer caches, and gives the outputs `run.py` checks;
  *   2. `--passes` timed passes, each in its own seed-permuted order.
  * With `--trace 1` the timed passes alternate between untraced and traced
  * (listeners registered only for the traced ones), so one run yields
  * both the per-layer numbers and the tracing overhead. All raw records
  * go to `--out` as one JSON document; `run.py` turns them into metrics.
  *
  * Args: --queries q1,q2,.. --data DIR --seed N --passes N --trace 0|1
  *       --out FILE
  */
object Harness {
  final case class QuerySpan(id: String, name: String, pass: Int,
      traced: Boolean, startMs: Long, endMs: Long, buildNs: Long,
      executeNs: Long, error: String, persistedBytes: Long)

  final case class PassSpan(pass: Int, traced: Boolean, startMs: Long,
      endMs: Long, wallNs: Long, cpuNs: Long)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing argument $k"))
    val names = arg("--queries").split(",").toSeq
    val dataDir = arg("--data")
    val seed = arg("--seed").toLong
    val nPasses = arg("--passes").toInt
    val trace = arg("--trace") == "1"
    val out = arg("--out")
    val cores = Runtime.getRuntime.availableProcessors()
    val missing = names.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val host0 = HostState.sample()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // ---- 1. set-up: session (same settings as graft.Bench) + check pass --
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // Releases whatever a finished query persisted or localCheckpointed,
    // as graft.Bench does, and returns the bytes those blocks held.
    def release(): Long = {
      val held = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      held
    }

    val hashes = names.map { n =>
      val h =
        try RowHash.of(graft.SparkEntry.queries(n)(spark, dataDir))
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] check $n failed: $e")
          s"error:${e.getClass.getSimpleName}"
        }
      release()
      n -> h
    }
    System.gc()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- 2. timed passes ------------------------------------------------
    val tracer = new Tracer(spark)
    val passes = ArrayBuffer[PassSpan]()
    val spans = ArrayBuffer[QuerySpan]()
    (0 until nPasses).foreach { pass =>
      // Trace runs alternate untraced and traced passes; the seed's parity
      // picks which comes first, so JIT warm-up between the two passes
      // biases the overhead estimate in both directions across seeds.
      val traced = trace && (pass + seed) % 2 == 1
      if (traced) tracer.start()
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val p0 = System.nanoTime(); val p0ms = System.currentTimeMillis()
      val cpu0 = os.getProcessCpuTime
      order.foreach { n =>
        val id = s"p$pass:$n"
        sc.setLocalProperty(Tracer.SpanKey, id)
        sc.setLocalProperty(Tracer.PhaseKey, "build")
        val q0ms = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = t0
        var err: String = null
        try {
          val df: DataFrame = graft.SparkEntry.queries(n)(spark, dataDir)
          t1 = System.nanoTime()
          sc.setLocalProperty(Tracer.PhaseKey, "execute")
          df.write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          err = e.toString
          System.err.println(s"[perfbench] $n failed: $err")
        }
        val t2 = System.nanoTime()
        val held = release()
        spans += QuerySpan(id, n, pass, traced, q0ms,
          System.currentTimeMillis(), t1 - t0, t2 - t1, err, held)
      }
      sc.setLocalProperty(Tracer.SpanKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
      passes += PassSpan(pass, traced, p0ms, System.currentTimeMillis(),
        System.nanoTime() - p0, os.getProcessCpuTime - cpu0)
      if (traced) tracer.stop()
    }

    val host1 = HostState.sample()
    val doc = Map(
      "cores" -> cores,
      "seed" -> seed,
      "queries" -> names,
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "hashes" -> hashes.toMap,
      "passes" -> passes.toSeq.map(p => Map("pass" -> p.pass,
        "traced" -> p.traced, "start_ms" -> p.startMs, "end_ms" -> p.endMs,
        "wall_s" -> p.wallNs / 1e9, "cpu_s" -> p.cpuNs / 1e9)),
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "pass" -> s.pass, "traced" -> s.traced, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "build_s" -> s.buildNs / 1e9,
        "execute_s" -> s.executeNs / 1e9, "error" -> s.error,
        "persisted_bytes" -> s.persistedBytes)),
      "trace" -> (if (trace) tracer.records else Map.empty),
      "peak_rss_mb" -> HostState.peakRssMb(),
      "host" -> Map("before" -> host0, "after" -> host1))
    Files.writeString(Paths.get(out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(doc))
    spark.stop()
  }
}
