package etlbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Process-level readings and the op statistics. */
object Metrics {

  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Bytes of the data files under `dir` (no checksums or markers). */
  def dirBytes(dir: File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty).map { f =>
      if (f.isDirectory) dirBytes(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    }.sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples beyond it, by
    * nearest rank; with ten samples or fewer, the maximum (reported as
    * p100). Returns (percentile, value).
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (100, s.last)
    else {
      val q = math.floor(100.0 * (n - 10) / n).toInt
      val rank = math.ceil(q / 100.0 * n).toInt
      (q, s(rank - 1))
    }
  }
}
