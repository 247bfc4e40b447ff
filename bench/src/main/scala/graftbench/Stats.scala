package graftbench

/** Order statistics over one run's iteration samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** The highest of the usual tail percentiles that still has at least ten
    * samples beyond it, so that its value does not rest on one or two
    * outliers; None when `n` is too small for even the median. */
  def supportedPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 75, 50).find(p => n.toLong * (100 - p) >= 10L * 100)
}

/** Noise markers for one interval: hypervisor steal and busy CPU of other
  * processes (both from /proc/stat, in seconds), and this JVM's GC time.
  * They are recorded with every iteration so that a slow sample can be told
  * apart from a slow program; no iteration is retried or dropped on them. */
final case class Noise(stealS: Double, otherCpuS: Double, gcMs: Long) {
  def -(o: Noise): Noise = Noise(stealS - o.stealS, otherCpuS - o.otherCpuS, gcMs - o.gcMs)
}

object Noise {
  /** Kernel clock ticks per second for /proc/stat (USER_HZ on Linux). */
  private val Hz = 100.0

  def sample(): Noise = {
    val (steal, other) = procStat()
    Noise(steal / Hz, other / Hz, gcMillis())
  }

  /** (steal ticks, busy ticks of other processes); (0, 0) where /proc is
    * not readable. */
  private def procStat(): (Long, Long) = try {
    val cpu = readFirstLine("/proc/stat", _.startsWith("cpu ")).trim.split("\\s+")
    // busy = user+nice+system+irq+softirq+steal+guest+guest_nice (idle and
    // iowait are fields 4 and 5).
    val busy = Seq(1, 2, 3, 6, 7, 8, 9, 10).filter(_ < cpu.length).map(cpu(_).toLong).sum
    val steal = if (cpu.length > 8) cpu(8).toLong else 0L
    // utime and stime are fields 14 and 15 of /proc/self/stat; the command
    // name before them may hold spaces, so count from its closing paren.
    val self = readFirstLine("/proc/self/stat", _ => true)
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (steal, busy - rest(11).toLong - rest(12).toLong)
  } catch { case _: java.io.IOException | _: RuntimeException => (0L, 0L) }

  private def readFirstLine(path: String, p: String => Boolean): String = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().find(p).getOrElse("") finally src.close()
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
