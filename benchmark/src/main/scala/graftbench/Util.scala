package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

/** A measured value with its unit, as printed in the result line. */
final case class Metric(value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Process-level probes: CPU time of this JVM (driver and local executors
  * alike), the 1-minute load average and the peak resident set. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
  private val jit = ManagementFactory.getCompilationMXBean

  /** Process CPU time less the JIT compiler's time: compiling is a one-off
    * cost of a young process, not a per-document cost, and how much of it
    * lands inside a timed run varies from process to process. */
  def cpuNs: Long = os match {
    case o: com.sun.management.OperatingSystemMXBean =>
      o.getProcessCpuTime - jit.getTotalCompilationTime * 1000000L
    case _ => throw new IllegalStateException("process CPU time is not available on this JVM")
  }

  def load1: Double = os.getSystemLoadAverage

  /** Milliseconds the JIT compilers have spent. */
  def jitMs: Long = jit.getTotalCompilationTime

  /** Seconds of CPU the hypervisor gave other guests while this machine's
    * CPUs wanted to run (`steal` in /proc/stat, summed over CPUs); 0 where
    * the kernel does not report it. */
  def stealS: Double = {
    val cpu = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")), "UTF-8")
      .linesIterator.next().trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toLong / 100.0 else 0.0
  }

  /** Milliseconds the collectors have spent, summed over collectors. */
  def gcMs: Long = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms
  }

  def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/self/status")), "UTF-8")
    val kb = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))
    kb / 1024.0
  }
}

/** Wall and CPU seconds of one timed call, and the load and steal it ran under. */
final case class Timed[A](value: A, wallS: Double, cpuS: Double, gcS: Double, load1: Double, stealS: Double)

object Timed {
  def apply[A](body: => A): Timed[A] = {
    val load = Proc.load1
    val s0 = Proc.stealS
    val c0 = Proc.cpuNs
    val g0 = Proc.gcMs
    val t0 = System.nanoTime()
    val v = body
    val wall = (System.nanoTime() - t0) / 1e9
    Timed(v, wall, (Proc.cpuNs - c0) / 1e9, (Proc.gcMs - g0) / 1e3, load, Proc.stealS - s0)
  }
}

object Fs {
  def delete(p: Path): Unit = if (Files.exists(p)) graft.FsUtil.deleteRecursively(p.toFile)

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally walk.close()
  }

  /** (file count, total bytes, largest file bytes) of the data files under a directory. */
  def dataFiles(dir: Path): (Long, Long, Long) = {
    val walk = Files.walk(dir)
    try {
      val sizes = walk.filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .mapToLong(p => Files.size(p)).toArray
      (sizes.length.toLong, sizes.sum, if (sizes.isEmpty) 0L else sizes.max)
    } finally walk.close()
  }
}
