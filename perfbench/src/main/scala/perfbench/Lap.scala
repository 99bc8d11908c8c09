package perfbench

import java.lang.management.ManagementFactory

import scala.util.Try

/** One measured interval: wall time, the benchmark process's CPU time
  * (all threads, user and system), and the share of the guest's runnable
  * CPU time the host withheld — steal ÷ (busy + steal), summed over the
  * host's CPUs. On a shared host other guests' load shows up as steal;
  * `busyWallS` takes that share out of the wall time, which to first order
  * is how long the interval takes with no CPU stolen. */
final case class Lap(wallS: Double, cpuS: Double, stolenShare: Double) {
  def busyWallS: Double = wallS * (1 - stolenShare)
}

object Lap {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** (busy, steal) jiffies of the host's aggregate CPU line: busy is user,
    * nice, system, irq and softirq. Zeros where the kernel does not expose
    * them, which leaves wall times unadjusted. */
  private def jiffies(): (Long, Long) = Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }.getOrElse((0L, 0L))

  /** The share of runnable time stolen between two jiffy readings. */
  def stolenShare(busy: Long, steal: Long): Double =
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0

  def measure[T](f: => T): (T, Lap) = {
    val (b0, s0) = jiffies()
    val (c0, t0) = (os.getProcessCpuTime, System.nanoTime())
    val r = f
    val (c1, t1) = (os.getProcessCpuTime, System.nanoTime())
    val (b1, s1) = jiffies()
    (r, Lap((t1 - t0) / 1e9, (c1 - c0) / 1e9, stolenShare(b1 - b0, s1 - s0)))
  }
}
