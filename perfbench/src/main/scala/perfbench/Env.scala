package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Process and machine readings for the record's `ctx`: enough to tell from
  * the record alone whether steal, CFS throttling or a collapse of effective
  * cores voids a comparison. Linux `/proc` and cgroup files; a reading that
  * is unavailable is -1.
  */
object Env {
  private val os = ManagementFactory.getOperatingSystemMXBean

  def cpuNs(): Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def read(path: String): Option[String] =
    Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")).toOption

  def peakRssMb(): Double = read("/proc/self/status").flatMap { s =>
    s.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
  }.getOrElse(-1.0)

  def loadAvg1(): Double = read("/proc/loadavg")
    .map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** (steal ticks, total ticks) of the aggregate `cpu` line. */
  def cpuTicks(): (Long, Long) = read("/proc/stat").flatMap { s =>
    s.linesIterator.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }
  }.getOrElse((-1L, -1L))

  /** Cumulative throttled time (ms) of every cgroup on the process's path
    * that reports one, leaf to root. A quota set on an ancestor is accounted
    * in the ancestor's cpu.stat, so every level is read. cgroup v2 reports
    * `throttled_usec`; the v1 cpu controller reports `throttled_time` (ns). */
  def throttledMs(): Map[String, Double] = read("/proc/self/cgroup").toSeq
    .flatMap(_.linesIterator.toSeq).map(_.split(":", 3)).flatMap {
      case Array(_, ctrls, path) =>
        val base =
          if (ctrls.isEmpty) Seq("/sys/fs/cgroup/unified", "/sys/fs/cgroup")
            .find(d => new java.io.File(d, "cgroup.controllers").exists)
          else if (ctrls.split(",").contains("cpu")) Some(s"/sys/fs/cgroup/$ctrls")
          else None
        val parts = path.split("/").filter(_.nonEmpty)
        base.toSeq.flatMap(b => (parts.length to 0 by -1).map(n =>
          (b +: parts.take(n)).mkString("/")))
      case _ => Nil
    }.flatMap { d =>
      read(s"$d/cpu.stat").flatMap(_.linesIterator.map(_.split("\\s+")).collectFirst {
        case Array("throttled_usec", v) => d -> v.toDouble / 1e3
        case Array("throttled_time", v) => d -> v.toDouble / 1e6
      })
    }.toMap

  final case class Snap(wallNs: Long, cpuNs: Long, load1: Double,
                        steal: Long, ticks: Long, throttled: Map[String, Double])

  def snap(): Snap = {
    val (st, tt) = cpuTicks()
    Snap(System.nanoTime(), cpuNs(), loadAvg1(), st, tt, throttledMs())
  }

  /** The `ctx` object of one run, between two snapshots. */
  def ctx(a: Snap, b: Snap): Map[String, Any] = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    val deltas = b.throttled.map { case (d, v) =>
      d -> (v - a.throttled.getOrElse(d, v)) }
    val (worstPath, worstMs) =
      if (deltas.isEmpty) ("", -1.0) else deltas.maxBy(_._2)
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "eff_cores" -> (if (a.cpuNs < 0) -1.0 else (b.cpuNs - a.cpuNs) / 1e9 / wall),
      "loadavg_start" -> a.load1,
      "loadavg_end" -> b.load1,
      "steal_share" -> (if (a.ticks < 0 || b.ticks <= a.ticks) -1.0
                        else (b.steal - a.steal).toDouble / (b.ticks - a.ticks)),
      "throttled_ms" -> worstMs,
      "throttled_cgroup" -> worstPath,
      "wall_s" -> wall,
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
  }
}
