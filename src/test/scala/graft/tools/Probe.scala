package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, Graft, SparkEntry}

/** Dev probe over contract queries (not part of the contract), run in ONE
  * JVM on `graft.Bench`'s session policy and per-query hygiene.
  *
  *  - Timing (default): runs each query `--reps` times (default 3) through
  *    the `noop` sink and prints every run plus the min. The first run
  *    carries the codegen + JIT floor, so first vs min separates that
  *    floor from the steady state when a bench number looks off. Next to
  *    the runs it prints each run's Janino compile count (`CodegenMetrics`),
  *    so a warm run that recompiles its generated code shows at a glance.
  *  - `--explain`: prints each query's formatted physical plan instead of
  *    timing it — PushedFilters reaching the parquet scan, the pruned
  *    ReadSchema, broadcast sides, WholeStageCodegen spans.
  *
  * Usage:
  * {{{
  * sbt "Test/runMain graft.tools.Probe --reps 2 q01_pricing_summary"
  * sbt "Test/runMain graft.tools.Probe --explain q17_haversine"
  * }}}
  * Env: `SPARK_GRAFT_SF_DIR` (default: the committed sf0.01 corpus under
  * `perfbench/corpus`), `SPARK_GRAFT_CPUS` (default 4). An unknown query
  * name or a malformed option exits with status 2 before any session
  * starts.
  */
object Probe {
  private val usage =
    "usage: graft.tools.Probe [--explain] [--reps N] <query>..."

  private def fail(msg: String): Nothing = {
    System.err.println(s"[probe] $msg\n$usage")
    sys.exit(2)
  }

  /** (explain, reps, query names) from the command line. */
  @annotation.tailrec
  private def parse(as: List[String], explain: Boolean = false, reps: Int = 3,
      names: Vector[String] = Vector.empty): (Boolean, Int, Vector[String]) =
    as match {
      case Nil => (explain, reps, names)
      case "--explain" :: t => parse(t, explain = true, reps, names)
      case "--reps" :: n :: t =>
        val r = n.toIntOption.filter(_ > 0)
          .getOrElse(fail(s"--reps needs a positive integer, got '$n'"))
        parse(t, explain, r, names)
      case opt :: _ if opt.startsWith("--") => fail(s"bad option $opt")
      case name :: t => parse(t, explain, reps, names :+ name)
    }

  /** Janino compiles so far in this JVM, on every thread. */
  private def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val (explain, reps, queries) = parse(args.toList)
    if (queries.isEmpty) fail("no query named")
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown query: ${unknown.mkString(", ")}")

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "perfbench/corpus/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.builder(cpus).appName("graft-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try queries.foreach { n =>
      if (explain) {
        println(s"========== $n ==========")
        println(SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(FormattedMode))
      } else {
        val (ts, compiles) = (1 to reps).map { _ =>
          val c0 = compileCount()
          (Bench.runOnce(spark, sfDir, n), compileCount() - c0)
        }.unzip
        println(s"[probe] $n runs=${ts.map(t => f"$t%.3f").mkString(",")} " +
          s"compiles=${compiles.mkString(",")} " + f"min=${ts.min}%.3f")
      }
    } finally spark.stop()
  }
}
