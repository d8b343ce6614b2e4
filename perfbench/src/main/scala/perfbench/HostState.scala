package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Host state stamped on every run (reported, never gated), so a contended
  * run can be recognised: core count, 1-min load average and the aggregate
  * CPU counters of /proc/stat (the steal share is computed between two
  * samples). */
object HostState {
  private def lines(p: String): Seq[String] =
    try Files.readAllLines(Paths.get(p)).asScala.toSeq
    catch { case _: Throwable => Seq.empty }

  def sample(): Map[String, Any] = {
    val load = lines("/proc/loadavg").headOption
      .flatMap(_.split(" ").headOption).flatMap(_.toDoubleOption)
      .getOrElse(-1.0)
    // cpu  user nice system idle iowait irq softirq steal ...
    val cpu = lines("/proc/stat").find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong).toSeq)
      .getOrElse(Seq.empty)
    Map("nproc" -> Runtime.getRuntime.availableProcessors(),
      "loadavg_1m" -> load,
      "cpu_total_ticks" -> cpu.sum,
      "cpu_steal_ticks" -> cpu.lift(7).getOrElse(0L))
  }

  /** VmHWM: the process's peak resident set, in MiB. */
  def peakRssMb(): Double =
    lines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
