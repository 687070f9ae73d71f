package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

/** Minimal JSON rendering for the result records: maps, sequences,
  * strings, numbers and booleans. Non-finite doubles render as null. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(render)
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (the usual "type 7"). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
}

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def now(): Long = System.nanoTime()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  /** CPU time of the whole process (all threads), in seconds. */
  def processCpu(): Double = os.getProcessCpuTime / 1e9

  /** Peak resident set size of this process in MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Run `body`, returning its value with wall seconds and process CPU seconds. */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = processCpu()
    val t0 = now()
    val r = body
    (r, secondsSince(t0), processCpu() - c0)
  }
}

object Files {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Total bytes of the regular files under `f`. */
  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else if (f.isFile) f.length()
    else 0L

  /** Relative path → size of every regular file under `root`. */
  def listing(root: File): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(f: File, rel: String): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c =>
        walk(c, if (rel.isEmpty) c.getName else rel + "/" + c.getName)))
      else if (f.isFile) out += rel -> f.length()
    walk(root, "")
    out.result()
  }

  def writer(f: File): java.io.BufferedWriter = {
    f.getParentFile.mkdirs()
    new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
  }
}
