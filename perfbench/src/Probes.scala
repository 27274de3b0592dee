package perfbench

import scala.util.control.NonFatal

/** Run-context probes: box speed, hypervisor steal and process memory.
  * They describe the run; none of them is a benchmark metric. */
object Probes {
  @volatile private var blackhole = 0L

  /** The SplitMix64 finalizer loop of `graft.Bench`'s calibration:
    * pure CPU, no allocation, no memory traffic. */
  private def mixLoop(iters: Long, seed: Long): Long = {
    var x = seed
    var i = 0L
    while (i < iters) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      x ^= z ^ (z >>> 31)
      i += 1
    }
    x
  }

  /** `graft.Bench`'s `CalibIters`; results are reported in its unit,
    * seconds per this many iterations per thread. */
  private val BenchIters = 300000000L
  private val Iters = BenchIters / 8

  /** `graft.Bench`'s calib_1t / calib_nt probe on an eighth of its
    * work (scaled back to its unit): `threads` concurrent loops,
    * min of two after an untimed JIT warm-up. */
  def calibrate(threads: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { t =>
        val th = new Thread(() => { blackhole ^= mixLoop(Iters, t.toLong) })
        th.start(); th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    blackhole ^= mixLoop(Iters / 10, 42L)
    math.min(once(), once()) * BenchIters / Iters
  }

  /** Cumulative (steal, total) CPU jiffies from /proc/stat. */
  def cpuJiffies(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        if (f.length >= 8) Some((f(7), f.sum)) else None
      } finally src.close()
    } catch { case NonFatal(_) => None }

  def stealPct(from: Option[(Long, Long)], to: Option[(Long, Long)]): Option[Double] =
    for ((s0, t0) <- from; (s1, t1) <- to if t1 > t0)
      yield 100.0 * (s1 - s0) / (t1 - t0)

  /** CPU time of this JVM, all threads (stolen time is not counted). */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Time this JVM's collectors have spent so far, in ms. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(-1.0)
      finally src.close()
    } catch { case NonFatal(_) => -1.0 }
}
