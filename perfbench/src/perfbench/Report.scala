package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Wall-clock and process CPU seconds of one measured interval. CPU time
  * counts the work of every JVM thread and excludes time the host ran
  * other guests (steal), so it stays steady on a shared machine. */
final case class Took(wallS: Double, cpuS: Double)

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Start a stopwatch; calling the result gives the time since. */
  def start(): () => Took = {
    val (w0, c0) = (System.nanoTime(), cpuS)
    () => Took((System.nanoTime() - w0) / 1e9, cpuS - c0)
  }

  def time[A](body: => A): (A, Took) = {
    val sw = start()
    val r = body
    (r, sw())
  }
}

/** Sample statistics and the benchmark's printed lines. */
object Report {

  /** Every digit of a measured value, JSON-safe. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First and third quartile, as Python's statistics.quantiles(n=4). */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 2) return (s.head, s.head)
    def at(i: Int): Double = {
      val m = (n + 1) * i / 4.0
      val j = (m.floor.toInt max 1) min (n - 1)
      val d = m - j
      s(j - 1) + (s(j) - s(j - 1)) * (d max 0.0 min 1.0)
    }
    (at(1), at(3))
  }

  /** The highest percentile with at least ten samples beyond it, and the
    * sample at it; None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val k = s.size - 11
      Some((100.0 * (k + 1) / s.size, s(k)))
    }

  /** One printed end-to-end line: name, median, unit, sample count, quartiles. */
  def line(workload: String, name: String, unit: String, xs: Seq[Double]): String =
    if (xs.isEmpty) s"[perfbench] $workload $name n=0"
    else {
      val (q1, q3) = quartiles(xs)
      f"[perfbench] $workload $name median=${median(xs)}%.4f $unit n=${xs.size} q1=$q1%.4f q3=$q3%.4f"
    }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def json(m: Seq[(String, Double, String)]): String =
    m.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
}
