package pipebench

import java.nio.file.{Files, Paths}

/** CPU time the hypervisor took from this machine's virtual CPUs while they
  * had work ("steal", the eighth field of `/proc/stat`'s `cpu` line). On a
  * shared host it came to half of the CPU time the machine wanted for
  * minutes at a time and doubled every timing, so the benchmark reports
  * wall-clock times scaled to the share of wanted CPU time that was not
  * stolen. Without steal (or without `/proc/stat`) the scale is 1. */
object Steal {
  final case class Mark(steal: Long, busy: Long)

  def mark(): Mark =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      // user, nice, system, idle, iowait, irq, softirq, steal
      Mark(f(7), f(0) + f(1) + f(2) + f(5) + f(6))
    } catch { case _: Exception => Mark(0L, 0L) }

  /** Share of the CPU time wanted between two marks that was stolen. */
  def share(from: Mark, to: Mark): Double = {
    val stolen = to.steal - from.steal
    val wanted = to.busy - from.busy + stolen
    if (wanted <= 0) 0.0 else stolen.toDouble / wanted
  }

  /** Times `f`: (result, wall seconds scaled to the CPU time not stolen). */
  def timed[T](f: => T): (T, Double) = {
    val m = mark()
    val (r, s) = Main.timed(f)
    (r, s * (1 - share(m, mark())))
  }
}
