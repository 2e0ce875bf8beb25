package perfbench

import java.nio.file.{Files, Paths}

/** Host signals read from /proc around each pass. They should move
  * nothing; they tell a noisy window from a regression. */
object Host {
  final case class Cpu(total: Long, steal: Long)
  final case class Window(stealPct: Double, load1: Double)

  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), "UTF-8") catch { case _: Exception => "" }

  def sample(): Cpu = {
    val f = read("/proc/stat").linesIterator.nextOption().getOrElse("")
      .split("\\s+").drop(1).flatMap(_.toLongOption)
    if (f.length >= 8) Cpu(f.take(8).sum, f(7)) else Cpu(0, 0)
  }

  def load1(): Double =
    read("/proc/loadavg").split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)

  def window(from: Cpu): Window = {
    val to = sample()
    val dt = to.total - from.total
    Window(if (dt > 0) 100.0 * (to.steal - from.steal) / dt else 0.0, load1())
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .flatMap(_.split("\\s+").lift(1)).flatMap(_.toDoubleOption).map(_ / 1024.0)
      .getOrElse(0.0)

  def metrics(ws: Seq[Window], out: Outcome): Unit = {
    out.metric("host.steal_pct", Stats.mean(ws.map(_.stealPct)), "%")
    out.metric("host.load1", Stats.mean(ws.map(_.load1)), "load")
  }
}
