package perfbench

import java.nio.file.{Files, Path}

/** Minimal JSON rendering: records are flat maps of numbers, strings,
  * booleans, nested maps and sequences. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null                => "null"
    case s: String           => str(s)
    case b: Boolean          => b.toString
    case i: Int              => i.toString
    case l: Long             => l.toString
    case d: Double           => num(d)
    case f: Float            => num(f.toDouble)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_]      => s.map(render).mkString("[", ",", "]")
    case o: Option[_]        => o.map(render).getOrElse("null")
    case other               => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]; NaN on no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

object Sys {
  def nowMs: Double = System.nanoTime() / 1e6

  /** CPU time of this process, all threads, in seconds. */
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Time spent in garbage collection so far, in seconds. */
  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
  }

  /** Time the JIT compilers have spent so far, in seconds. */
  def jitS: Double = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** Heap still in use after full collections, in MiB: the memory the
    * program retains, which unlike resident size does not follow GC
    * timing. */
  def liveHeapMb: Double = {
    // Spark's ContextCleaner drops blocks and broadcasts of collected
    // plans only after a collection finds them: collect, let it run,
    // collect again; twice, keeping the lower reading
    (1 to 2).map { _ =>
      System.gc()
      Thread.sleep(300)
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Regular files and their total bytes under `p` (0, 0 when absent). */
  def census(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var n = 0L; var b = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => n += 1; b += Files.size(f) }
        (n, b)
      } finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
