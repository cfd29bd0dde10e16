package kgbench

import java.lang.management.ManagementFactory

/** Minimal JSON writer: the benchmark's output is flat numbers, strings and
  * nested objects, so no library is needed.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Raw(r) => r
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Pre-rendered JSON spliced in verbatim. */
  final case class Raw(json: String)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Host and process readings taken around every run: what else was using
  * the machine, and what this process consumed.
  */
object Host {
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuTicks(): (Long, Long) = readFile("/proc/stat").linesIterator
    .find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }.getOrElse((0L, 0L))

  def stealPct(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) 100.0 * (to._1 - from._1) / (to._2 - from._2) else 0.0

  def loadAvg1(): Double =
    readFile("/proc/loadavg").trim.split("\\s+").headOption.map(_.toDouble).getOrElse(0.0)

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = readFile("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
    .getOrElse(0.0)

  private def readFile(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    catch { case scala.util.control.NonFatal(_) => "" }
}
